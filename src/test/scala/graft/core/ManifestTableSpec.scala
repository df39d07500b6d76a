package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class ManifestTableSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long)] =
    df.select("k", "v").collect().map(r => (r.getInt(0), r.getLong(1))).toSet

  private def part(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("bucket", pmod(col("k"), lit(4)).cast("int"))

  /** Run `body` with a 1-byte AQE advisory partition size, so the staged
    * write's `rebalance` hint SPLITS every leaf across its input's map
    * tasks — the production oversized-leaf fan-out path, scaled down to
    * fixture size. Fixtures that need several files per partition (the
    * OPTIMIZE-collapse and carried-lines tests) build them this way; a
    * plain commit lands one right-sized file per leaf by design.
    */
  private def withLeafSplit[T](body: => T): T = {
    val k = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "1b")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("commit/read: versions are complete snapshots; untouched partitions carry forward") {
    val root = tmpDir("graft_manifest") + "/t"
    assert(ManifestTable.read(spark, root).isEmpty)
    assert(ManifestTable.currentVersion(spark, root) == -1L)
    // v0: buckets 0 and 1
    val v0 = ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", batchId = 0L)
    assert(v0 == 0L)
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L), (1, 11L)))
    // v1 touches ONLY bucket 1 (k=1,5): bucket 0's file carries forward
    val v1 = ManifestTable.commit(spark, root,
      part(Seq((1, 21L), (5, 25L)).toDF("k", "v")), "bucket", batchId = 1L)
    assert(v1 == 1L)
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 21L), (5, 25L)))
    assert(ManifestTable.lastBatch(spark, root) == 1L)
    // the fence: redelivered batch id <= committed is a no-op
    assert(ManifestTable.commit(spark, root,
      part(Seq((1, 99L)).toDF("k", "v")), "bucket", batchId = 1L) == 1L)
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 21L), (5, 25L)))
  }

  test("commit: a DECLARED touched partition with no replacement rows drops its lines") {
    // the bucket-migration shape (ClusterIndex reps): a rewrite moves every
    // row OUT of bucket 1; without the declaration the commit would derive
    // bucket 1 untouched and carry its stale file forward
    val root = tmpDir("graft_manifest_declared") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", batchId = 0L)
    // rows that WOULD have lived in bucket 1 migrate to bucket 2; bucket 1
    // is declared touched and must come back empty
    ManifestTable.commit(spark, root,
      Seq((6, 61L)).toDF("k", "v").withColumn("bucket", lit(2)),
      "bucket", batchId = 1L, touchedValues = Seq("1", "2"))
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L), (6, 61L)),
      "stale lines of the emptied declared partition survived")
    // time travel still sees the pre-delete snapshot
    assert(rows(ManifestTable.readVersion(spark, root, 0L)) ==
      Set((0, 10L), (1, 11L)))
    // an undeclared disjoint partition is untouched as before
    assert(ManifestTable.read(spark, root).get
      .filter(col("bucket") === 0).count() == 1L)
    // '|' and '/' in a declared value refuse loudly
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((0, 1L)).toDF("k", "v").withColumn("bucket", lit(0)),
        "bucket", batchId = 2L, touchedValues = Seq("a|b"))
    }
  }

  test("schema evolution: additive columns null-fill, old versions time-travel with their own schema, conflicts refuse") {
    import org.apache.spark.sql.functions.lit
    val root = tmpDir("graft_manifest_evo") + "/t"
    // v0: (k, v) in lineage partitions b0 (the st18 append shape — new
    // batches land beside old files, so mixed schemas actually coexist)
    ManifestTable.commit(spark, root,
      Seq((0, 10L), (1, 11L)).toDF("k", "v").withColumn("part", lit("b0")),
      "part", batchId = 0L)
    // v1: batch 1 ARRIVES WITH A NEW COLUMN — additive evolution
    ManifestTable.commit(spark, root,
      Seq((2, 12L, "x"), (3, 13L, "y")).toDF("k", "v", "extra")
        .withColumn("part", lit("b1")),
      "part", batchId = 1L)
    val now = ManifestTable.read(spark, root).get
    assert(now.columns.take(3).toSeq == Seq("k", "v", "extra"),
      s"merged schema drifted: ${now.columns.toSeq}")
    val got = now.select("k", "extra").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    assert(got == Set((0, None), (1, None), (2, Some("x")), (3, Some("y"))),
      s"null fill broke: $got")
    // old-version TIME TRAVEL reads the OLD schema — no phantom column
    assert(!ManifestTable.readVersion(spark, root, 0L)
      .columns.contains("extra"))
    // a commit that DROPS a column keeps it in the table schema (its new
    // file null-fills) — a column delete is a rewrite job, not a commit
    ManifestTable.commit(spark, root,
      Seq((4, "z")).toDF("k", "extra").withColumn("part", lit("b2")),
      "part", batchId = 2L)
    val afterDrop = ManifestTable.read(spark, root).get
    assert(afterDrop.columns.contains("v"))
    assert(afterDrop.filter(col("k") === 4).select("v")
      .collect().head.isNullAt(0))
    // a non-widening type conflict refuses loudly (long -> string; the
    // int/long pair is a legal widening since round 14 — pinned below)
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((5, "oops")).toDF("k", "v").withColumn("part", lit("b3")),
        "part", batchId = 3L)
    }
    // OPTIMIZE on the evolved table null-fills old files in its rewrite
    // and carries the schema header through
    ManifestTable.optimizeRewritePartitions(spark, root, "opt")
    val folded = ManifestTable.read(spark, root).get
    assert(folded.count() == 5L &&
      folded.filter(col("extra").isNull).count() == 2L &&
      folded.filter(col("v").isNull).count() == 1L)
  }

  test("readPruned reads under the head's schema: a pre-column file gets read's columns, no inference job") {
    import org.apache.spark.sql.functions.lit
    val root = tmpDir("graft_manifest_pruned_evo") + "/t"
    // keys 0-9 land before the column `extra` exists, keys 10-19 with it
    ManifestTable.commit(spark, root,
      (0L until 10L).map(k => (k, 2 * k)).toDF("k", "v").withColumn("part", lit("b0")),
      "part", batchId = 0L, statsCol = Some("k"))
    ManifestTable.commit(spark, root,
      (10L until 20L).map(k => (k, 2 * k, s"x$k")).toDF("k", "v", "extra")
        .withColumn("part", lit("b1")),
      "part", batchId = 1L, statsCol = Some("k"))
    val full = ManifestTable.read(spark, root).get
    var pruned: org.apache.spark.sql.DataFrame = null
    val jobs = jobGroupsDuring {
      pruned = ManifestTable.readPruned(spark, root, "k", 5L, 12L)
    }
    assert(jobs.isEmpty, s"building the pruned frame ran ${jobs.size} job(s)")
    assert(pruned.schema == full.schema,
      s"pruned ${pruned.schema.simpleString} vs read ${full.schema.simpleString}")
    val range = col("k").between(5L, 12L)
    val want = full.filter(range)
    val got = pruned.filter(range)
    assert(got.count() == 8L && got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.filter(col("extra").isNull).count() == 5L) // keys 5-9 null-fill
  }

  test("schema evolution: int->long and float->double widen losslessly in either order; other changes refuse") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val root = tmpDir("graft_manifest_widen") + "/t"
    // b0 writes (n: int, x: float); b1 arrives WIDER (long, double)
    ManifestTable.commit(spark, root,
      Seq((0, 10, 1.5f), (1, 11, 2.5f)).toDF("k", "n", "x")
        .withColumn("part", lit("b0")), "part", 0L)
    ManifestTable.commit(spark, root,
      Seq((2, 12L, 3.5d)).toDF("k", "n", "x")
        .withColumn("part", lit("b1")), "part", 1L)
    val now = ManifestTable.read(spark, root).get
    assert(now.schema("n").dataType == LongType &&
      now.schema("x").dataType == DoubleType,
      s"widening not recorded: ${now.schema.simpleString}")
    assert(now.select("k", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((0, 10L), (1, 11L), (2, 12L)),
      "pre-widening files must read widened, values intact")
    assert(now.filter(col("k") === 0).select("x")
      .collect().head.getDouble(0) == 1.5d)
    // a NARROW late producer keeps writing int into the widened table —
    // its files read widened, the recorded type stays long
    ManifestTable.commit(spark, root,
      Seq((3, 13)).toDF("k", "n").withColumn("part", lit("b2")), "part", 2L)
    val after = ManifestTable.read(spark, root).get
    assert(after.schema("n").dataType == LongType)
    assert(after.filter(col("k") === 3).select("n")
      .collect().head.getLong(0) == 13L)
    // non-widening changes still refuse
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((4, "s")).toDF("k", "n").withColumn("part", lit("b3")),
        "part", 3L)
    }
    // the fold rewrites mixed-width generations under the widened schema
    ManifestTable.optimizeRewritePartitions(spark, root, "opt")
    val folded = ManifestTable.read(spark, root).get
    assert(folded.schema("n").dataType == LongType && folded.count() == 4L)
    assert(folded.agg(sum(col("n"))).collect().head.getLong(0) == 46L)
  }

  test("zone-map additive migration: appended stats column prunes new files, conservative on old; reorder refuses") {
    import org.apache.spark.sql.functions.lit
    val root = tmpDir("graft_manifest_zmig") + "/t"
    ManifestTable.commit(spark, root,
      Seq((0, 5L, 100L), (1, 6L, 101L)).toDF("k", "v", "w")
        .withColumn("part", lit("b0")),
      "part", batchId = 0L, statsCol = Some("v"))
    // append w to the registration — additive, allowed
    ManifestTable.commit(spark, root,
      Seq((2, 7L, 200L), (3, 8L, 201L)).toDF("k", "v", "w")
        .withColumn("part", lit("b1")),
      "part", batchId = 1L, statsColumns = Seq("v", "w"))
    // new column prunes: w in [200, 201] can only be in b1's file; b0's
    // pre-migration line has no w stats and is kept conservatively
    val (kept, total) = ManifestTable.prunedFiles(spark, root, "w", 500L, 600L)
    assert(kept.forall(_.startsWith("part=b0/")) && kept.length < total,
      s"pre-migration files must be kept conservatively, new ones pruned: $kept")
    // an interval hitting the new file keeps BOTH files: b1 by its stats,
    // b0 conservatively (no recorded w)
    val (kept2, total2) = ManifestTable.prunedFiles(spark, root, "w", 200L, 201L)
    assert(kept2.length == total2)
    // the original column still prunes across both generations
    val (keptV, totalV) = ManifestTable.prunedFiles(spark, root, "v", 7L, 8L)
    assert(keptV.forall(_.startsWith("part=b1/")) && keptV.length < totalV)
    // reorder / retype / drop refuse
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((4, 9L, 300L)).toDF("k", "v", "w").withColumn("part", lit("b2")),
        "part", batchId = 2L, statsColumns = Seq("w", "v"))
    }
  }

  test("deleteRows: takedown rewrites touched partitions only; empties drop; fence + time travel hold") {
    import org.apache.spark.sql.functions.lit
    val root = tmpDir("graft_manifest_delete") + "/t"
    // buckets 0..3 hold k=0..7 (k pmod 4); zone maps on v prove stats
    // survive the rewrite untouched partitions' carry-forward
    val data = (0 until 8).map(i => (i, 100L + i))
    ManifestTable.commit(spark, root, part(data.toDF("k", "v")),
      "bucket", batchId = 5L, statsCol = Some("v"))
    // takedown k=1 (bucket 1, partial) and k=2,6 (ALL of bucket 2)
    val stats = ManifestTable.deleteRows(spark, root,
      Seq(1, 2, 6).toDF("k"), "k")
    // k is not the registered stats column, so detection scans the full
    // snapshot: filesScanned == filesTotal
    assert(stats.exists(st =>
      st.partitionsRewritten == 1 && st.partitionsEmptied == 1 &&
        st.rowsDeleted == 3L && st.filesScanned == st.filesTotal),
      s"unexpected delete stats: $stats")
    assert(rows(ManifestTable.read(spark, root).get) ==
      data.filterNot(d => Set(1, 2, 6)(d._1)).toSet)
    // untouched buckets carried their FILES (same manifest lines)
    val (lines1, _) = ManifestTable.readManifest(spark, root, 1L)
    val (lines0, _) = ManifestTable.readManifest(spark, root, 0L)
    assert(lines1.filter(_.startsWith("bucket=0/")).toSet ==
      lines0.filter(_.startsWith("bucket=0/")).toSet,
      "an untouched partition was rewritten")
    assert(lines1.forall(!_.startsWith("bucket=2/")),
      "the fully-emptied partition kept stale lines")
    // the ingest fence did NOT advance: a redelivered ingest batch still
    // no-ops, a NEW batch still lands
    assert(ManifestTable.lastBatch(spark, root) == 5L)
    // time travel: the pre-delete snapshot is intact until vacuumed
    assert(rows(ManifestTable.readVersion(spark, root, 0L)) == data.toSet)
    // zone maps survive on carried files: pruning on v still works
    val (kept, total) = ManifestTable.prunedFiles(spark, root, "v", 100L, 100L)
    assert(kept.nonEmpty && kept.length < total)
    // deleting already-deleted keys is a no-op by value
    assert(ManifestTable.deleteRows(spark, root,
      Seq(2, 6).toDF("k"), "k").isEmpty)
    // physical purge: vacuum(keepVersions=1) removes the pre-delete bytes
    val purged = ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(purged > 0L)
    intercept[Exception] { // the purged snapshot is gone for good
      ManifestTable.readVersion(spark, root, 0L).count()
    }
    assert(rows(ManifestTable.read(spark, root).get) ==
      data.filterNot(d => Set(1, 2, 6)(d._1)).toSet)
    // a table whose snapshot has zero files refuses nothing and returns
    // None (nothing to delete)
    val empty = tmpDir("graft_manifest_delete_e") + "/t"
    ManifestTable.commit(spark, empty,
      Seq((0, 1L)).toDF("k", "v").withColumn("bucket", lit(0)),
      "bucket", batchId = 0L)
    ManifestTable.deleteRows(spark, empty, Seq(0).toDF("k"), "k")
    assert(ManifestTable.read(spark, empty).get.count() == 0L)
    assert(ManifestTable.deleteRows(spark, empty, Seq(0).toDF("k"), "k").isEmpty)
  }

  test("zone maps: footer stats prune files by value interval; carry-forward keeps them; conservative without stats") {
    val root = tmpDir("graft_manifest_zone") + "/t"
    // buckets with DISJOINT v ranges: bucket b holds v in [100b, 100b+9]
    val data = (0 until 4).flatMap(b => (0 until 10).map(i => (b, 100L * b + i)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "v").withColumn("bucket", col("k")),
      "bucket", batchId = 0L, statsCol = Some("v"))
    val (kept, total) = ManifestTable.prunedFiles(spark, root, "v", 105L, 210L)
    assert(total >= 4 && kept.length < total,
      s"no pruning: kept ${kept.length} of $total files")
    assert(kept.forall(p => p.startsWith("bucket=1/") || p.startsWith("bucket=2/")),
      s"pruning kept a provably-empty file: $kept")
    // the pruned read is a superset; after the row filter it's exact
    val full = ManifestTable.read(spark, root).get
      .filter(col("v") >= 105 && col("v") <= 210).select("k", "v")
    val pruned = ManifestTable.readPruned(spark, root, "v", 105L, 210L)
      .filter(col("v") >= 105 && col("v") <= 210).select("k", "v")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // v1 rewrites ONLY bucket 0: carried buckets keep their zone maps and
    // still prune; bucket 0's new file gets fresh stats
    ManifestTable.commit(spark, root,
      Seq((0, 999L)).toDF("k", "v").withColumn("bucket", col("k")),
      "bucket", batchId = 1L, statsCol = Some("v"))
    val (kept2, total2) = ManifestTable.prunedFiles(spark, root, "v", 300L, 399L)
    assert(kept2.forall(_.startsWith("bucket=3/")) && kept2.length < total2)
    val (kept3, _) = ManifestTable.prunedFiles(spark, root, "v", 999L, 999L)
    assert(kept3.nonEmpty && kept3.forall(_.startsWith("bucket=0/")))
    // registering a DIFFERENT column refuses loudly
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((0, 1L)).toDF("k", "v").withColumn("bucket", col("k")),
        "bucket", batchId = 2L, statsCol = Some("k"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFiles(spark, root, "k", 0L, 1L)
    }
    // a table committed WITHOUT statsCol never prunes (and says why)
    val plain = tmpDir("graft_manifest_plain") + "/t"
    ManifestTable.commit(spark, plain,
      Seq((0, 1L)).toDF("k", "v").withColumn("bucket", col("k")),
      "bucket", batchId = 0L)
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFiles(spark, plain, "v", 0L, 1L)
    }
    // '|' in a partition VALUE would truncate manifest lines (it is the
    // stats delimiter) — refused before any file reaches a live dir
    val bars = tmpDir("graft_manifest_bars") + "/t"
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, bars,
        Seq(("a|b", 1L)).toDF("k", "v").withColumn("bucket", col("k")),
        "bucket", batchId = 0L)
    }
  }

  test("multi-column zone maps: second-column prune, string ranges, mixed-predicate intersection, typed refusals") {
    import ManifestTable.{LongRange, StringRange}
    val root = tmpDir("graft_manifest_multi") + "/t"
    // buckets with DISJOINT ranges on BOTH columns: bucket b holds
    // v in [100b, 100b+9] and s in ["sb0", "sb9"] (byte-ordered)
    val data = (0 until 4).flatMap(b =>
      (0 until 10).map(i => (b, 100L * b + i, s"s$b$i")))
    ManifestTable.commit(spark, root,
      data.toDF("k", "v", "s").withColumn("bucket", col("k")),
      "bucket", batchId = 0L, statsColumns = Seq("v", "s"))

    // prune on the SECOND (string) column alone
    val (keptS, totalS) = ManifestTable.prunedFilesMulti(
      spark, root, Seq(StringRange("s", "s10", "s25")))
    assert(totalS >= 4 && keptS.nonEmpty && keptS.length < totalS,
      s"no string pruning: kept ${keptS.length} of $totalS")
    assert(keptS.forall(p => p.startsWith("bucket=1/") || p.startsWith("bucket=2/")),
      s"string pruning kept a provably-empty file: $keptS")

    // mixed predicates take the INTERSECTION: v-range admits buckets 1-2,
    // s-range admits buckets 2-3 => only bucket 2 survives
    val (keptM, _) = ManifestTable.prunedFilesMulti(spark, root,
      Seq(LongRange("v", 105L, 299L), StringRange("s", "s20", "s39")))
    assert(keptM.nonEmpty && keptM.forall(_.startsWith("bucket=2/")),
      s"mixed predicates did not intersect: $keptM")

    // the pruned read stays a superset: row-filtered result is exact
    val full = ManifestTable.read(spark, root).get
      .filter(col("v") >= 105 && col("v") <= 299 &&
        col("s") >= "s20" && col("s") <= "s39").select("k", "v", "s")
    val pruned = ManifestTable.readPrunedMulti(spark, root,
      Seq(LongRange("v", 105L, 299L), StringRange("s", "s20", "s39")))
      .filter(col("v") >= 105 && col("v") <= 299 &&
        col("s") >= "s20" && col("s") <= "s39").select("k", "v", "s")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)

    // typed refusals: wrong-typed predicate, unregistered column, and a
    // commit re-registering a different column set
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFilesMulti(spark, root, Seq(LongRange("s", 0L, 1L)))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.prunedFilesMulti(spark, root, Seq(LongRange("x", 0L, 1L)))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((0, 1L, "a")).toDF("k", "v", "s").withColumn("bucket", col("k")),
        "bucket", batchId = 1L, statsColumns = Seq("v"))
    }
    // a non-integer, non-string column refuses at registration
    intercept[IllegalArgumentException] {
      val other = tmpDir("graft_manifest_badtype") + "/t"
      ManifestTable.commit(spark, other,
        Seq((0, 1.5)).toDF("k", "d").withColumn("bucket", col("k")),
        "bucket", batchId = 0L, statsColumns = Seq("d"))
    }

    // carry-forward: a later commit touching one bucket keeps the other
    // buckets' multi-column stats pruning
    ManifestTable.commit(spark, root,
      Seq((0, 999L, "zzz")).toDF("k", "v", "s").withColumn("bucket", col("k")),
      "bucket", batchId = 1L, statsColumns = Seq("v", "s"))
    val (kept2, total2) = ManifestTable.prunedFilesMulti(
      spark, root, Seq(StringRange("s", "s30", "s39")))
    assert(kept2.forall(_.startsWith("bucket=3/")) && kept2.length < total2)
  }

  test("manifest OPTIMIZE: within-partition file collapse, values intact, fence and time travel preserved") {
    val root = tmpDir("graft_manifest_opt") + "/t"
    // one commit whose leaves SPLIT across the input's 8 map tasks
    // (1-byte advisory size) -> several small files per bucket dir
    val data = (0 until 200).map(i => (i % 2, i.toLong))
    withLeafSplit {
      ManifestTable.commit(spark, root,
        data.toDF("k", "v").repartition(8).withColumn("bucket", col("k")),
        "bucket", batchId = 0L, statsCol = Some("v"))
    }
    val before = ManifestTable.read(spark, root).get
      .select("k", "v").localCheckpoint(true)
    val (files0, _) = ManifestTable.prunedFiles(spark, root, "v", Long.MinValue, Long.MaxValue)
    assert(files0.size > 2, s"fixture produced too few files: ${files0.size}")
    val stats = ManifestTable.optimize(spark, root)
    assert(stats.nonEmpty && stats.forall(s => s.outputFiles < s.inputFiles),
      s"optimize did not collapse files: $stats")
    val (files1, total1) = ManifestTable.prunedFiles(spark, root, "v", Long.MinValue, Long.MaxValue)
    assert(total1 < files0.size)
    val after = ManifestTable.read(spark, root).get.select("k", "v")
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "optimize changed table contents")
    // fence preserved: the pre-optimize batch id still no-ops
    val vAfterOpt = ManifestTable.currentVersion(spark, root)
    ManifestTable.commit(spark, root,
      Seq((0, 999L)).toDF("k", "v").withColumn("bucket", col("k")),
      "bucket", batchId = 0L, statsCol = Some("v"))
    assert(ManifestTable.currentVersion(spark, root) == vAfterOpt,
      "redelivered ingest batch re-committed after optimize")
    // time travel to the pre-optimize version still reads exactly
    val old = ManifestTable.readVersion(spark, root, 0L).select("k", "v")
    assert(old.exceptAll(before).isEmpty && before.exceptAll(old).isEmpty)
    // idempotent: a second optimize is a no-op
    assert(ManifestTable.optimize(spark, root).isEmpty)
  }

  test("manifest OPTIMIZE (lineage partitions): partition fold keeps zone-map pruning via range clustering") {
    val root = tmpDir("graft_manifest_optr") + "/t"
    // the st18 shape: one lineage partition per batch, disjoint v ranges
    for (b <- 0 until 4)
      ManifestTable.commit(spark, root,
        (0 until 50).map(i => (100L * b + i))
          .toDF("v").withColumn("part", lit(s"b$b")),
        "part", batchId = b.toLong, statsCol = Some("v"))
    val before = ManifestTable.read(spark, root).get.select("v").localCheckpoint(true)
    // tiny targetBytes so the fold still produces SEVERAL range-clustered
    // files — the pruning-survives claim needs more than one file
    val res = ManifestTable.optimizeRewritePartitions(spark, root, "opt", targetBytes = 1024L)
    assert(res.nonEmpty && res.get.outputFiles > 1,
      s"fixture fold produced too few files: $res")
    val after = ManifestTable.read(spark, root).get.select("v")
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "partition fold changed table contents")
    // range clustering preserved file skipping: a narrow predicate must
    // provably drop at least one of the folded files
    val (kept, total) = ManifestTable.prunedFiles(spark, root, "v", 0L, 49L)
    assert(kept.size < total,
      s"zone maps died in the fold: kept ${kept.size} of $total")
    val pruned = ManifestTable.readPruned(spark, root, "v", 0L, 49L)
      .filter(col("v") <= 49)
    assert(pruned.count() == 50)
    // single-partition table: fold is a no-op
    assert(ManifestTable.optimizeRewritePartitions(spark, root, "opt2").isEmpty)
  }

  test("changes: appends feed exactly the new rows; deletes net to the takedown; OPTIMIZE nets to zero") {
    val root = tmpDir("graft_manifest_cdf") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L), (2, 12L)).toDF("k", "v")), "bucket", 0L)
    // v1: an append-shaped commit touching only bucket 3
    ManifestTable.commit(spark, root,
      part(Seq((3, 13L), (7, 17L)).toDF("k", "v")), "bucket", 1L)
    val (a1, r1) = ManifestTable.changes(spark, root, 0L, 1L)
    assert(rows(a1) == Set((3, 13L), (7, 17L)),
      "append changes must be exactly the new rows")
    assert(r1.isEmpty, "an append version removes nothing")
    // v2: delete k=1 (bucket-1 rewrite: survivor k=5 would stay — none
    // here beyond the rewritten rows)
    ManifestTable.commit(spark, root,
      part(Seq((1, 21L), (5, 25L)).toDF("k", "v")), "bucket", 2L)
    ManifestTable.deleteRows(spark, root, Seq(1).toDF("k"), "k")
    val (a3, r3) = ManifestTable.changes(spark, root, 2L, 3L)
    assert(rows(r3.exceptAll(a3)) == Set((1, 21L)),
      "net-removed across the delete version must be the takedown rows")
    assert(a3.exceptAll(r3).isEmpty, "a delete nets no inserts")
    // v4: split the bucket leaf across map tasks so OPTIMIZE has files to
    // collapse — then the feed across the fold must net to zero
    withLeafSplit {
      ManifestTable.commit(spark, root,
        (0 until 40).map(i => (1 + 4 * (i % 3), i.toLong)).toDF("k", "v")
          .repartition(8).transform(part),
        "bucket", 4L)
    }
    val vPre = ManifestTable.currentVersion(spark, root)
    ManifestTable.optimize(spark, root)
    val vPost = ManifestTable.currentVersion(spark, root)
    assert(vPost == vPre + 1)
    val (ao, ro) = ManifestTable.changes(spark, root, vPre, vPost)
    assert(ao.exceptAll(ro).isEmpty && ro.exceptAll(ao).isEmpty,
      "OPTIMIZE must net to zero row change in the feed")
    assert(!ao.isEmpty, "the fold did rewrite files")
    // ascending-version contract
    intercept[IllegalArgumentException] {
      ManifestTable.changes(spark, root, 3L, 1L)
    }
    // scale pin: the feed scans ONLY the changed files — its input set
    // must be the manifest diff, never the table (the whole point of an
    // incremental read)
    val (aF, rF) = ManifestTable.changes(spark, root, 0L, 1L)
    val v0Files = ManifestTable.readManifest(spark, root, 0L)._1.toSet
    val v1Files = ManifestTable.readManifest(spark, root, 1L)._1.toSet
    def rel(f: String): String =
      f.stripPrefix("file://").stripPrefix(s"$root/")
    assert(aF.inputFiles.toSet.map(rel) == (v1Files -- v0Files),
      "added side scanned beyond the diff")
    // the empty removed side borrows the added frame (limit 0) — it must
    // never list beyond the diff either
    assert(rF.inputFiles.toSet.map(rel).subsetOf(v1Files -- v0Files),
      "empty removed side listed beyond the diff")
  }

  test("a crashed commit is invisible: readers stay on the last full version, vacuum sweeps the debris") {
    val root = tmpDir("graft_manifest_crash") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", 0L)
    val before = rows(ManifestTable.read(spark, root).get)
    // crash after data-file writes, BEFORE the manifest rename: emulate by
    // planting version-named data files with no published manifest
    val orphan = Paths.get(s"$root/bucket=1/v1-part-00000-dead.parquet")
    Files.write(orphan, Array.fill(64)(0x13.toByte))
    val tmpManifest = Paths.get(s"$root/_manifest/v1.json.tmp")
    Files.write(tmpManifest, "{\"version\":1,\"batch\":1}\nbucket=1/v1-part-00000-dead.parquet".getBytes)
    // reader: still version 0, still the full old snapshot — never a mix
    assert(ManifestTable.currentVersion(spark, root) == 0L)
    assert(rows(ManifestTable.read(spark, root).get) == before,
      "crashed commit leaked into the read path")
    // vacuum deletes exactly the unreferenced data file (manifest tmp is
    // outside the partition dirs; a real recovery just re-runs the batch)
    val swept = ManifestTable.vacuum(spark, root)
    assert(swept == 1L, s"expected 1 orphan swept, got $swept")
    assert(!Files.exists(orphan))
    assert(rows(ManifestTable.read(spark, root).get) == before)
    // and the healed re-commit lands normally
    ManifestTable.commit(spark, root,
      part(Seq((1, 21L)).toDF("k", "v")), "bucket", 1L)
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L), (1, 21L)))
  }

  test("time travel: any retained version reads back exactly as committed") {
    val root = tmpDir("graft_manifest_tt") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", 0L)
    ManifestTable.commit(spark, root, part(Seq((1, 21L)).toDF("k", "v")), "bucket", 1L)
    ManifestTable.commit(spark, root, part(Seq((0, 30L)).toDF("k", "v")), "bucket", 2L)
    assert(rows(ManifestTable.readVersion(spark, root, 0L)) == Set((0, 10L), (1, 11L)))
    assert(rows(ManifestTable.readVersion(spark, root, 1L)) == Set((0, 10L), (1, 21L)))
    assert(rows(ManifestTable.readVersion(spark, root, 2L)) == Set((0, 30L), (1, 21L)))
    assert(rows(ManifestTable.read(spark, root).get) ==
      rows(ManifestTable.readVersion(spark, root, 2L)))
    // a version vacuumed past retention is gone — and says so
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    intercept[Exception] { ManifestTable.readVersion(spark, root, 0L).collect() }
  }

  test("vacuum keepVersions=2: every retained version still time-travels after the sweep") {
    val root = tmpDir("graft_manifest_vac2") + "/t"
    // three versions all rewriting bucket 0 — v0's file is needed by NO
    // retained version, v1's is needed by retained v1 even though the
    // LATEST manifest (v2) no longer references it
    ManifestTable.commit(spark, root, part(Seq((0, 10L)).toDF("k", "v")), "bucket", 0L)
    ManifestTable.commit(spark, root, part(Seq((0, 20L)).toDF("k", "v")), "bucket", 1L)
    ManifestTable.commit(spark, root, part(Seq((0, 30L)).toDF("k", "v")), "bucket", 2L)
    ManifestTable.vacuum(spark, root, keepVersions = 2)
    // the retention contract: BOTH retained versions read back intact
    assert(rows(ManifestTable.readVersion(spark, root, 1L)) == Set((0, 20L)),
      "vacuum deleted a data file a retained version still references")
    assert(rows(ManifestTable.readVersion(spark, root, 2L)) == Set((0, 30L)))
    // ...and the version past retention is actually gone
    intercept[Exception] { ManifestTable.readVersion(spark, root, 0L).collect() }
  }

  test("vacuum sweeps stranded _stage-* dirs from a crashed commit") {
    val root = tmpDir("graft_manifest_stage") + "/t"
    ManifestTable.commit(spark, root, part(Seq((0, 10L)).toDF("k", "v")), "bucket", 0L)
    // crash between the staged parquet write and its cleanup: a full
    // _stage-v1 tree survives with no published manifest
    val stage = Paths.get(s"$root/_stage-v1/bucket=0")
    Files.createDirectories(stage)
    Files.write(stage.resolve("part-00000-dead.parquet"), Array.fill(32)(0x7.toByte))
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L)))
    val swept = ManifestTable.vacuum(spark, root)
    assert(swept >= 1L, "stranded staging dir was not swept")
    assert(!Files.exists(Paths.get(s"$root/_stage-v1")))
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L)))
    // grace window protects an IN-FLIGHT commit's staging dir
    Files.createDirectories(Paths.get(s"$root/_stage-v2"))
    assert(ManifestTable.vacuum(spark, root, graceMs = 60 * 60 * 1000L) == 0L)
    assert(Files.exists(Paths.get(s"$root/_stage-v2")))
  }

  test("optimistic concurrency: a commit losing the publish race to a disjoint writer retries and converges") {
    val root = tmpDir("graft_manifest_occ") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", 0L)
    // writer A derives against v0; writer B commits v1 (bucket 2) inside
    // A's publish window — A must lose the slot, re-derive against B's
    // state and land at v2 with BOTH commits' rows intact
    val vA = ManifestTable.commit(spark, root,
      part(Seq((3, 33L)).toDF("k", "v")), "bucket", batchId = 2L,
      beforePublish = () => {
        ManifestTable.commit(spark, root,
          part(Seq((2, 22L)).toDF("k", "v")), "bucket", batchId = 1L): Unit
      })
    assert(vA == 2L, s"loser must land at the NEXT slot, got v$vA")
    assert(ManifestTable.lastBatch(spark, root) == 2L)
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 11L), (2, 22L), (3, 33L)),
      "a lost-race retry dropped lines")
    // every version stays a complete snapshot: v1 = base + B, v2 = v1 + A
    assert(rows(ManifestTable.readVersion(spark, root, 1L)) ==
      Set((0, 10L), (1, 11L), (2, 22L)))
  }

  test("optimistic concurrency: the same batch delivered by two writers applies once; loser debris is vacuumed") {
    val root = tmpDir("graft_manifest_occ2") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L)).toDF("k", "v")), "bucket", 0L)
    val vA = ManifestTable.commit(spark, root,
      part(Seq((1, 21L)).toDF("k", "v")), "bucket", batchId = 1L,
      beforePublish = () => {
        // the SAME logical batch lands first through a second writer
        ManifestTable.commit(spark, root,
          part(Seq((1, 21L)).toDF("k", "v")), "bucket", batchId = 1L): Unit
      })
    assert(vA == 1L && ManifestTable.currentVersion(spark, root) == 1L,
      "a redelivered batch must not double-apply")
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L), (1, 21L)))
    // the loser's staged-but-unreferenced file is real debris in the live
    // partition dir — vacuum must sweep exactly it
    val bucketDir = new java.io.File(s"$root/bucket=1")
    assert(bucketDir.listFiles().count(_.getName.endsWith(".parquet")) == 2,
      "expected the loser's orphan file beside the winner's")
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(bucketDir.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      "the loser's orphan file was not vacuumed")
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L), (1, 21L)))
  }

  test("optimistic concurrency: a racing writer on the SAME partition aborts loudly — never a silent lost update") {
    val root = tmpDir("graft_manifest_occ3") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", 0L)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.commit(spark, root,
        part(Seq((1, 99L)).toDF("k", "v")), "bucket", batchId = 2L,
        beforePublish = () => {
          ManifestTable.commit(spark, root,
            part(Seq((1, 50L), (5, 55L)).toDF("k", "v")), "bucket",
            batchId = 1L): Unit
        })
    }
    // the winner's state is intact; the loser's rows never surfaced
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 50L), (5, 55L)))
  }

  test("optimistic concurrency: optimize racing a disjoint ingest carries its lines; racing a delete aborts") {
    val root = tmpDir("graft_manifest_occ4") + "/t"
    withLeafSplit {
      ManifestTable.commit(spark, root,
        (0 until 40).map(i => (1, i.toLong)).toDF("k", "v")
          .repartition(8).transform(part),
        "bucket", 0L)
    }
    val stats = ManifestTable.optimize(spark, root,
      beforePublish = () => {
        // an ingest lands a NEW partition mid-fold: the fold owns only the
        // input files it read, so the retry must carry the winner's lines
        ManifestTable.commit(spark, root,
          part(Seq((2, 777L)).toDF("k", "v")), "bucket", batchId = 1L): Unit
      })
    assert(stats.nonEmpty)
    assert(ManifestTable.read(spark, root).get.count() == 41L,
      "the fold's retry lost the concurrently-ingested rows")
    assert(ManifestTable.read(spark, root).get
      .filter(col("v") === 777).count() == 1L)
    // fence: the concurrent ingest's batch id survives as the fence
    assert(ManifestTable.lastBatch(spark, root) == 1L)
    // a fold whose INPUT files a racing delete removed must abort — its
    // output would resurrect the deleted rows
    val root2 = tmpDir("graft_manifest_occ5") + "/t"
    withLeafSplit {
      ManifestTable.commit(spark, root2,
        (0 until 40).map(i => (i % 8, 1000L + i)).toDF("k", "v")
          .repartition(8).transform(part),
        "bucket", 0L)
    }
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.optimize(spark, root2,
        beforePublish = () => {
          ManifestTable.deleteRows(spark, root2,
            Seq(1000L, 1001L).toDF("v"), "v"): Unit
        })
    }
    // the delete's result is intact — the aborted fold changed nothing
    assert(ManifestTable.read(spark, root2).get.count() == 38L)
  }

  test("manifest header codec: parse inverts render over every optional field; legacy headers still parse") {
    import ManifestTable.Header
    val b64 = Header.encodeSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
    val full = Header(7L, 3L, Some("merge"), Seq("a", "b"), Some(1700000000000L),
      Seq(("k", "long"), ("s", "string")), Some(b64), Some(2L), Some(4), Some(40L))
    // the on-disk key order and spelling, pinned byte for byte
    assert(full.render == "{\"version\":7,\"batch\":3,\"op\":\"merge\"," +
      "\"opKey\":\"a,b\",\"ts\":1700000000000," +
      "\"statsCols\":\"k:long,s:string\",\"schemaB64\":\"" + b64 + "\"," +
      "\"restoredFrom\":2,\"nf\":4,\"nr\":40}")
    Seq(
      Header(0L, -1L),
      full,
      full.copy(statsCols = Seq(("k", "long"))),
      full.copy(statsCols = Seq(("s", "string"))),
      full.copy(opKey = Nil, restoredFrom = None, nr = None),
      full.copy(op = None, ts = None, statsCols = Nil, schemaB64 = None,
        nf = None)
    ).foreach(h => assert(Header.parse(h.render) == h, h.render))
    // one long column keeps the original single "statsCol" key (U5 pin)
    assert(full.copy(statsCols = Seq(("k", "long"))).render
      .contains("\"statsCol\":\"k\","))
    // the legacy shapes specs write by hand: a single statsCol, no
    // op/ts/nf/nr, no schemaB64 — and a header without batch refuses
    assert(Header.parse("{\"version\":0,\"batch\":0,\"statsCol\":\"k\"}") ==
      Header(0L, 0L, statsCols = Seq(("k", "long"))))
    assert(Header.parse("{\"version\":0,\"batch\":0,\"schemaB64\":\"" + b64 +
      "\"}") == Header(0L, 0L, schemaB64 = Some(b64)))
    intercept[IllegalStateException](Header.parse("{broken"))
  }

  test("optimistic concurrency: a partition fold losing its publish race to a disjoint commit aborts; the winner's rows stand") {
    val root = tmpDir("graft_manifest_occ_fold") + "/t"
    for (b <- 0 until 3)
      ManifestTable.commit(spark, root,
        Seq((b, 100L + b)).toDF("k", "v").withColumn("part", lit(s"b$b")),
        "part", batchId = b.toLong)
    // the fold consumes every live file, so even a commit that only ADDS
    // a new partition invalidates it: the retry must refuse, never carry
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.optimizeRewritePartitions(spark, root, "folded",
        beforePublish = () => {
          ManifestTable.commit(spark, root,
            Seq((9, 109L)).toDF("k", "v").withColumn("part", lit("b9")),
            "part", batchId = 9L): Unit
        })
    }
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 100L), (1, 101L), (2, 102L), (9, 109L)))
    assert(ManifestTable.lastBatch(spark, root) == 9L)
    // the fold's staged output is unreferenced debris, never corruption
    assert(ManifestTable.fsck(spark, root).ok)
  }

  test("optimistic concurrency: deleteRows racing a disjoint ingest converges; a same-partition race aborts") {
    val root = tmpDir("graft_manifest_occ6") + "/t"
    val data = (0 until 8).map(i => (i, 100L + i))
    ManifestTable.commit(spark, root, part(data.toDF("k", "v")), "bucket", 0L)
    // the takedown (k=1, bucket 1) races a bucket-2 replacement — disjoint,
    // so the delete's retry carries the new bucket-2 lines
    val st = ManifestTable.deleteRows(spark, root, Seq(1).toDF("k"), "k",
      beforePublish = () => {
        ManifestTable.commit(spark, root,
          part(Seq((2, 222L)).toDF("k", "v")), "bucket", batchId = 1L): Unit
      })
    assert(st.exists(_.rowsDeleted == 1L))
    // bucket 2 (k=2,6) was wholly REPLACED by the winner's {(2,222)};
    // bucket 1 lost k=1 to the delete and kept k=5
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 100L), (2, 222L), (3, 103L), (4, 104L), (5, 105L),
        (7, 107L)),
      "delete retry lost the concurrent bucket replacement")
    // same-partition race: the ingest replaced the partition the delete
    // rewrote — lost update, loud abort
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.deleteRows(spark, root, Seq(3).toDF("k"), "k",
        beforePublish = () => {
          ManifestTable.commit(spark, root,
            part(Seq((3, 333L)).toDF("k", "v")), "bucket", batchId = 2L): Unit
        })
    }
    assert(ManifestTable.read(spark, root).get
      .filter(col("k") === 3).select("v").collect().map(_.getLong(0)).toSeq
      == Seq(333L), "the winning ingest's replacement must survive the abort")
  }

  test("optimistic concurrency: two real threads delivering the SAME batch apply it exactly once") {
    // the realistic genuine race: at-least-once delivery hands the same
    // micro-batch to two workers at once (distinct batch ids cannot race
    // freely — the monotonic fence makes the lower id's outcome depend on
    // arrival order by design). Whoever loses the rename must detect the
    // winner carried the batch and skip; the final state is deterministic
    // regardless of who wins.
    val root = tmpDir("graft_manifest_occ_t") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L)).toDF("k", "v")), "bucket", 0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val task = new java.util.concurrent.Callable[Long] {
        def call(): Long = ManifestTable.commit(spark, root,
          part(Seq((1, 21L)).toDF("k", "v")), "bucket", batchId = 1L)
      }
      val (fa, fb) = (pool.submit(task), pool.submit(task))
      assert(fa.get() == 1L && fb.get() == 1L,
        "both deliveries must resolve to the winning version")
    } finally pool.shutdown()
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 21L)), "the racing redelivery corrupted the table")
    assert(ManifestTable.currentVersion(spark, root) == 1L,
      "the same batch committed twice")
    // the loser's orphaned staged file (if any) is vacuum debris, never
    // visible to readers
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 10L), (1, 21L)))
  }

  test("optimistic concurrency: two real threads delivering the SAME merge batch apply it exactly once") {
    // the merge twin of the redelivered-commit race: at-least-once
    // delivery hands one CDC batch to two appliers. One wins the rename;
    // the other must see the fence carried its batch and return None —
    // never a double-applied upsert.
    val root = tmpDir("graft_manifest_occ_m") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L)).toDF("k", "v")), "bucket", 0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val task = new java.util.concurrent.Callable[Option[ManifestTable.MergeStats]] {
        def call(): Option[ManifestTable.MergeStats] =
          ManifestTable.merge(spark, root,
            Seq((1, 110L, 1), (9, 99L, 1)).toDF("k", "v", "bucket"),
            "k", batchId = 1L)
      }
      val (fa, fb) = (pool.submit(task), pool.submit(task))
      val (ra, rb) = (fa.get(), fb.get())
      assert(ra.isDefined ^ rb.isDefined,
        s"exactly one delivery must apply: $ra / $rb")
    } finally pool.shutdown()
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 110L), (9, 99L)),
      "the racing merge redelivery corrupted the table")
    assert(ManifestTable.lastBatch(spark, root) == 1L)
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 110L), (9, 99L)))
  }

  test("partition-value escaping: '='/space/leading-zero values rewrite and carry exactly (derived and declared)") {
    val root = tmpDir("graft_manifest_esc") + "/t"
    val df = Seq((1L, "a=b"), (2L, "a=b"), (3L, "x 0"), (4L, "007"))
      .toDF("id", "part")
    ManifestTable.commit(spark, root, df, "part", batchId = 0L)
    // the manifest records the ESCAPED directory spelling
    val (lines0, _) = ManifestTable.readManifest(spark, root, 0L)
    assert(lines0.exists(_.startsWith("part=a%3Db/")),
      s"'=' value not Hive-escaped in manifest lines: $lines0")
    assert(lines0.exists(_.startsWith("part=007/")))
    // deleteRows inside the escaped partition: survivors rewritten in
    // place, no stale carry-forward (the round-13 ADVICE hazard)
    val st = ManifestTable.deleteRows(spark, root, Seq(1L).toDF("id"), "id")
    assert(st.exists(s0 => s0.partitionsRewritten == 1 && s0.rowsDeleted == 1L),
      s"unexpected stats: $st")
    val now = ManifestTable.read(spark, root).get
    assert(now.count() == 3L && now.filter(col("id") === 1).isEmpty)
    assert(now.filter(col("part") === "a=b").count() == 1L,
      "the escaped partition's survivor was lost or duplicated")
    val (lines1, _) = ManifestTable.readManifest(spark, root, 1L)
    assert(lines1.count(_.startsWith("part=a%3Db/")) == 1,
      s"stale pre-delete file carried beside the rewrite: $lines1")
    // the leading-zero value round-trips VERBATIM — no partition-type
    // inference rewriting part=007 into part=7
    ManifestTable.deleteRows(spark, root, Seq(4L).toDF("id"), "id")
    val (lines2, _) = ManifestTable.readManifest(spark, root, 2L)
    assert(!lines2.exists(_.startsWith("part=7/")),
      s"leading-zero partition value lost its rendering: $lines2")
    assert(!lines2.exists(_.startsWith("part=007/")),
      "the emptied partition kept stale lines")
    // a DECLARED '='-bearing value drops the right partition's lines
    ManifestTable.commit(spark, root,
      Seq((9L, "x 0")).toDF("id", "part"), "part", batchId = 1L,
      touchedValues = Seq("a=b"))
    val after = ManifestTable.read(spark, root).get
    assert(after.filter(col("part") === "a=b").isEmpty,
      "declared escaped partition kept stale lines")
    assert(after.select("id").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // the empty string refuses (Spark renders it as the default-partition
    // sentinel — silently matching nothing would be a stale carry-forward)
    intercept[IllegalArgumentException] {
      ManifestTable.commit(spark, root,
        Seq((10L, "x 0")).toDF("id", "part"), "part", batchId = 2L,
        touchedValues = Seq(""))
    }
  }

  test("legacy table (no recorded schema): a narrow first post-upgrade commit must not hide older columns") {
    val root = tmpDir("graft_manifest_legacy") + "/t"
    ManifestTable.commit(spark, root,
      Seq((0, 10L, "x"), (1, 11L, "y")).toDF("k", "v", "extra")
        .withColumn("part", lit("b0")),
      "part", batchId = 0L)
    // simulate a PRE-schema-versioning table: strip the recorded schema
    // from the manifest header (these tables exist in the wild — every
    // commit before the U10 upgrade wrote headers without schemaB64)
    val m = Paths.get(s"$root/_manifest/v0.json")
    Files.writeString(m, Files.readString(m)
      .replaceAll(",\"schemaB64\":\"[^\"]+\"", ""))
    // the out-of-band edit invalidates LocalFileSystem's checksum sidecar
    Files.deleteIfExists(Paths.get(s"$root/_manifest/.v0.json.crc"))
    assert(ManifestTable.read(spark, root).get.columns.contains("extra"),
      "fixture broke: legacy read should infer from files")
    // the first post-upgrade commit carries a NARROWER frame — the merged
    // schema must still include the legacy files' columns (inferred from
    // the carried files), or optimize would rewrite them away for good
    ManifestTable.commit(spark, root,
      Seq((2, "z")).toDF("k", "extra").withColumn("part", lit("b1")),
      "part", batchId = 1L)
    val now = ManifestTable.read(spark, root).get
    assert(now.columns.contains("v"),
      "legacy column lost by the first post-upgrade commit")
    assert(now.filter(col("k") === 0).select("v").collect().head.getLong(0) == 10L)
    assert(now.filter(col("k") === 2).select("v").collect().head.isNullAt(0))
    // and the fold rewrites under the FULL merged schema — no column loss
    ManifestTable.optimizeRewritePartitions(spark, root, "opt")
    val folded = ManifestTable.read(spark, root).get
    assert(folded.columns.contains("v") && folded.columns.contains("extra"),
      "optimize dropped a legacy column")
    assert(folded.filter(col("v").isNotNull).count() == 2L &&
      folded.count() == 3L)
  }

  test("deleteRows: a registered key column zone-map-prunes the detection scan") {
    val root = tmpDir("graft_manifest_zdel") + "/t"
    // buckets with DISJOINT k ranges and k registered: the takedown's key
    // envelope provably misses every other bucket's files
    val data = (0 until 4).flatMap(b => (0 until 10).map(i => (100L * b + i, b)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "bucket"), "bucket", batchId = 0L, statsCol = Some("k"))
    val st = ManifestTable.deleteRows(spark, root,
      Seq(105L, 108L).toDF("k"), "k")
    assert(st.isDefined)
    assert(st.get.filesScanned < st.get.filesTotal,
      s"zone-mapped delete scanned the full snapshot: ${st.get}")
    assert(st.get.rowsDeleted == 2L)
    assert(ManifestTable.read(spark, root).get.count() == 38L)
    // a takedown whose envelope misses EVERY file opens none and no-ops
    val st2 = ManifestTable.deleteRows(spark, root,
      Seq(5000L, 6000L).toDF("k"), "k")
    assert(st2.isEmpty, s"out-of-range takedown should no-op, got $st2")
  }

  test("dropPartitions: metadata-only TTL drop — no data IO, time travel intact, vacuum reclaims, conflicts abort") {
    val root = tmpDir("graft_manifest_ttl") + "/t"
    // the lineage shape: one partition per day-ish batch
    for (b <- 0 until 4)
      ManifestTable.commit(spark, root,
        (0 until 10).map(i => (10 * b + i).toLong).toDF("v")
          .withColumn("part", lit(s"d$b")), "part", batchId = b.toLong)
    def dataFiles(): Long = {
      import scala.jdk.CollectionConverters._
      // "/_manifest/" with slashes: the scratch dir's own name contains
      // the bare substring
      java.nio.file.Files.walk(Paths.get(root)).iterator().asScala
        .count(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("/_manifest/")).toLong
    }
    val filesBefore = dataFiles()
    // drop the two oldest partitions: METADATA-ONLY — the bytes stay
    // until vacuum, the read drops them immediately
    val dropped = ManifestTable.dropPartitions(spark, root, Seq("d0", "d1"))
    assert(dropped.exists(_ >= 2L), s"unexpected drop count: $dropped")
    assert(ManifestTable.read(spark, root).get
      .agg(min(col("v"))).collect().head.getLong(0) == 20L)
    assert(dataFiles() == filesBefore,
      "a metadata-only drop must not touch data files")
    // the fence did not advance; pre-drop versions time-travel
    assert(ManifestTable.lastBatch(spark, root) == 3L)
    assert(ManifestTable.readVersion(spark, root, 3L).count() == 40L)
    // vacuum reclaims the dropped bytes past retention
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(dataFiles() < filesBefore, "vacuum did not reclaim dropped bytes")
    assert(ManifestTable.read(spark, root).get.count() == 20L)
    // dropping a partition with no lines is a no-op by value
    assert(ManifestTable.dropPartitions(spark, root, Seq("d0")).isEmpty)
    // a concurrent writer REPLACING a dropped partition aborts the drop
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.dropPartitions(spark, root, Seq("d2"),
        beforePublish = () => {
          ManifestTable.commit(spark, root,
            Seq(999L).toDF("v").withColumn("part", lit("d2")),
            "part", batchId = 4L): Unit
        })
    }
    assert(ManifestTable.read(spark, root).get
      .filter(col("v") === 999L).count() == 1L,
      "the aborted drop deleted a concurrent replacement")
    // ...while a writer on a DIFFERENT partition composes via the retry
    val d2 = ManifestTable.dropPartitions(spark, root, Seq("d2"),
      beforePublish = () => {
        ManifestTable.commit(spark, root,
          Seq(777L).toDF("v").withColumn("part", lit("d4")),
          "part", batchId = 5L): Unit
      })
    assert(d2.isDefined)
    val fin = ManifestTable.read(spark, root).get
    assert(fin.filter(col("v") === 777L).count() == 1L &&
      fin.filter(col("part") === "d2").count() == 0L,
      "drop retry lost the concurrent disjoint commit")
  }

  test("merge: matched rows replace (and move partitions), unmatched insert; receiving partitions append, not rewrite") {
    val root = tmpDir("graft_manifest_merge") + "/t"
    // one row per bucket so rewrite/append/empty shapes are all visible
    ManifestTable.commit(spark, root,
      Seq((0, 10L, 0), (1, 11L, 1), (2, 22L, 2), (3, 33L, 3))
        .toDF("k", "v", "bucket"), "bucket", batchId = 0L)
    // k=1 updates to v=110 AND MOVES bucket 1 -> 2; k=7 is a pure insert
    val st = ManifestTable.merge(spark, root,
      Seq((1, 110L, 2), (7, 77L, 3)).toDF("k", "v", "bucket"),
      "k", batchId = 1L)
    assert(st.isDefined)
    assert(st.get.rowsUpdated == 1L && st.get.rowsInserted == 1L, s"$st")
    assert(st.get.partitionsRewritten == 1, // bucket=1 (emptied by the move)
      s"$st")
    assert(st.get.partitionsAppended == 2, // bucket=2 and bucket=3 receive
      s"$st")
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 110L), (2, 22L), (3, 33L), (7, 77L)))
    // the emptied source partition dropped its lines
    assert(ManifestTable.read(spark, root).get
      .filter(col("bucket") === 1).count() == 0L)
    // a merge IS an ingest: the fence advanced; redelivery no-ops
    assert(ManifestTable.lastBatch(spark, root) == 1L)
    assert(ManifestTable.merge(spark, root,
      Seq((1, 999L, 2)).toDF("k", "v", "bucket"), "k", batchId = 1L).isEmpty)
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (1, 110L), (2, 22L), (3, 33L), (7, 77L)),
      "a redelivered merge batch re-applied")
    // pre-merge snapshot time-travels
    assert(rows(ManifestTable.readVersion(spark, root, 0L)) ==
      Set((0, 10L), (1, 11L), (2, 22L), (3, 33L)))
    // APPEND, not rewrite: after vacuum past the pre-merge version, the
    // receiving buckets keep their ORIGINAL file next to the appended one
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    val b2 = new java.io.File(s"$root/bucket=2")
    assert(b2.listFiles().count(_.getName.endsWith(".parquet")) == 2,
      "the receiving partition's carried file should be live beside the " +
        "appended one (a rewrite would have replaced it)")
    assert(!new java.io.File(s"$root/bucket=1").exists() ||
      new java.io.File(s"$root/bucket=1")
        .listFiles().count(_.getName.endsWith(".parquet")) == 0,
      "the emptied source partition's bytes survived vacuum")
    // refusals: duplicate keys and null keys in one batch
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root,
        Seq((5, 1L, 0), (5, 2L, 0)).toDF("k", "v", "bucket"), "k", 2L)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root,
        Seq((Option.empty[Int], 1L, 0)).toDF("k", "v", "bucket"), "k", 2L)
    }
  }

  test("merge: the recorded schema evolves additively through the update frame") {
    val root = tmpDir("graft_manifest_mergeev") + "/t"
    ManifestTable.commit(spark, root,
      Seq((0, 10L, 0), (1, 11L, 1)).toDF("k", "v", "bucket"),
      "bucket", batchId = 0L)
    // the update batch carries a column the table lacked: matched row
    // takes it, carried rows null-fill it
    ManifestTable.merge(spark, root,
      Seq((1, 110L, "x", 1), (2, 22L, "y", 0))
        .toDF("k", "v", "w", "bucket"), "k", batchId = 1L)
    val got = ManifestTable.read(spark, root).get
      .select("k", "v", "w").collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(got == Set((0, 10L, None), (1, 110L, Some("x")),
      (2, 22L, Some("y"))))
    // a type conflict refuses BEFORE any file stages (version unchanged)
    val vBefore = ManifestTable.currentVersion(spark, root)
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root,
        Seq((0, "not-a-long", 0)).toDF("k", "v", "bucket"), "k", 2L)
    }
    assert(ManifestTable.currentVersion(spark, root) == vBefore)
  }

  test("merge: a registered key column zone-map-prunes the detection scan") {
    val root = tmpDir("graft_manifest_mergez") + "/t"
    // disjoint k ranges per bucket, k registered (the zdel fixture shape)
    val data = (0 until 4).flatMap(b => (0 until 10).map(i => (100L * b + i, b)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "bucket"), "bucket", batchId = 0L, statsCol = Some("k"))
    val st = ManifestTable.merge(spark, root,
      Seq((105L, 2), (108L, 2)).toDF("k", "bucket"), "k", batchId = 1L)
    assert(st.isDefined)
    assert(st.get.filesScanned < st.get.filesTotal,
      s"zone-mapped merge scanned the full snapshot: ${st.get}")
    assert(st.get.rowsUpdated == 2L && st.get.rowsInserted == 0L, s"$st")
    // the moved rows live in bucket 2 now; totals unchanged
    val cur = ManifestTable.read(spark, root).get
    assert(cur.count() == 40L)
    assert(cur.filter(col("k").isin(105L, 108L))
      .select(col("bucket").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("2"))
  }

  test("merge OCC: key-disjoint ingest composes via zone maps; a key-overlapping append aborts; same-partition aborts") {
    def freshTable(name: String): String = {
      val root = tmpDir(name) + "/t"
      ManifestTable.commit(spark, root,
        (0L until 10L).map((_, 0)).toDF("k", "bucket"),
        "bucket", batchId = 0L, statsCol = Some("k"))
      root
    }
    // 1. winner appends a ZONE-DISJOINT bucket inside the merge's publish
    //    window: the merge's retry proves no key overlap and composes
    val r1 = freshTable("graft_manifest_mocc1")
    val st = ManifestTable.merge(spark, r1,
      Seq((5L, 0)).toDF("k", "bucket"), "k", batchId = 2L,
      beforePublish = () => {
        ManifestTable.commit(spark, r1,
          (200L until 210L).map((_, 9)).toDF("k", "bucket"),
          "bucket", batchId = 1L, statsCol = Some("k")): Unit
      })
    assert(st.isDefined, "a key-disjoint concurrent ingest must compose")
    assert(ManifestTable.read(spark, r1).get.count() == 20L)
    // 2. winner adds a file whose zone range COVERS a merge key: the
    //    no-match evidence is stale — loud abort, winner intact
    val r2 = freshTable("graft_manifest_mocc2")
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.merge(spark, r2,
        Seq((205L, 0)).toDF("k", "bucket"), "k", batchId = 2L,
        beforePublish = () => {
          ManifestTable.commit(spark, r2,
            (200L until 210L).map((_, 9)).toDF("k", "bucket"),
            "bucket", batchId = 1L, statsCol = Some("k")): Unit
        })
    }
    assert(ManifestTable.read(spark, r2).get.count() == 20L)
    // 3. winner rewrites the partition the merge is rewriting: lost
    //    update — loud abort
    val r3 = freshTable("graft_manifest_mocc3")
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.merge(spark, r3,
        Seq((5L, 0)).toDF("k", "bucket"), "k", batchId = 2L,
        beforePublish = () => {
          ManifestTable.commit(spark, r3,
            (0L until 10L).map((_, 0)).toDF("k", "bucket"),
            "bucket", batchId = 1L, statsCol = Some("k"),
            touchedValues = Seq("0")): Unit
        })
    }
    // 4. the same merge batch lands through another writer first: the
    //    loser's retry sees the fence and no-ops instead of double-applying
    val r4 = freshTable("graft_manifest_mocc4")
    val st4 = ManifestTable.merge(spark, r4,
      Seq((5L, 0)).toDF("k", "bucket"), "k", batchId = 2L,
      beforePublish = () => {
        ManifestTable.merge(spark, r4,
          Seq((5L, 0)).toDF("k", "bucket"), "k", batchId = 2L): Unit
      })
    assert(st4.isEmpty, "a redelivered merge batch double-applied")
    assert(ManifestTable.read(spark, r4).get.count() == 10L)
  }

  test("bloom index: scattered takedown keys prune past the zone envelope; absent keys stay a no-op") {
    val root = tmpDir("graft_manifest_bloom") + "/t"
    // disjoint k ranges per bucket, k zone-registered (the zdel shape)
    val data = (0 until 4).flatMap(b => (0 until 10).map(i => (100L * b + i, b)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "bucket"), "bucket", batchId = 0L, statsCol = Some("k"))
    // SCATTERED keys: the envelope [5, 305] intersects every bucket's
    // range — zone maps alone prune nothing
    val st0 = ManifestTable.deleteRows(spark, root,
      Seq(5L, 305L).toDF("k"), "k")
    assert(st0.get.filesScanned == 4 && st0.get.rowsDeleted == 2L,
      s"pre-bloom baseline: $st0")
    // with the bloom sidecar, the same scatter opens exactly the two
    // files that HOLD a key
    ManifestTable.buildBloomIndex(spark, root, "k")
    val st1 = ManifestTable.deleteRows(spark, root,
      Seq(8L, 308L).toDF("k"), "k")
    assert(st1.get.filesScanned == 2,
      s"bloom probe did not prune the scattered takedown: $st1")
    assert(st1.get.rowsDeleted == 2L)
    assert(ManifestTable.read(spark, root).get.count() == 36L)
    // keys inside the envelope but ABSENT from the table no-op (bloom or
    // detection — either way no row matches)
    assert(ManifestTable.deleteRows(spark, root,
      Seq(50L, 150L).toDF("k"), "k").isEmpty)
    // values survive exactly
    assert(ManifestTable.read(spark, root).get
      .filter(col("k").isin(5L, 305L, 8L, 308L)).count() == 0L)
  }

  test("bloom index: incremental build, stale-row drop, conservative on unindexed files, typed refusal") {
    val root = tmpDir("graft_manifest_bloom2") + "/t"
    for (b <- 0 until 3)
      ManifestTable.commit(spark, root,
        (0 until 10).map(i => (100L * b + i, b)).toDF("k", "bucket")
          .repartition(1), "bucket", batchId = b.toLong)
    val s1 = ManifestTable.buildBloomIndex(spark, root, "k")
    assert(s1 == ManifestTable.BloomIndexStats(3, 0, 0), s"$s1")
    // idempotent: nothing new to index
    val s2 = ManifestTable.buildBloomIndex(spark, root, "k")
    assert(s2 == ManifestTable.BloomIndexStats(0, 3, 0), s"$s2")
    // a new commit's files index INCREMENTALLY (old rows carried)
    ManifestTable.commit(spark, root,
      (0 until 10).map(i => (300L + i, 3)).toDF("k", "bucket")
        .repartition(1), "bucket", batchId = 3L)
    val s3 = ManifestTable.buildBloomIndex(spark, root, "k")
    assert(s3 == ManifestTable.BloomIndexStats(1, 3, 0), s"$s3")
    // a rewrite replaces a file: its NEW file is unindexed — deletes on
    // it still work (conservative keep), and the next build drops the
    // stale row while indexing the replacement
    val std = ManifestTable.deleteRows(spark, root, Seq(105L).toDF("k"), "k")
    assert(std.get.rowsDeleted == 1L)
    val std2 = ManifestTable.deleteRows(spark, root, Seq(107L).toDF("k"), "k")
    assert(std2.get.rowsDeleted == 1L,
      "a delete touching an unindexed replacement file must stay correct")
    val s4 = ManifestTable.buildBloomIndex(spark, root, "k")
    assert(s4.staleDropped >= 1 && s4.filesIndexed >= 1, s"$s4")
    assert(ManifestTable.read(spark, root).get.count() == 38L)
    // absent and unsupported-typed key columns refuse
    intercept[IllegalArgumentException] {
      ManifestTable.buildBloomIndex(spark, root, "bucket_name_not_there")
    }
    val root2 = tmpDir("graft_manifest_bloom3") + "/t"
    ManifestTable.commit(spark, root2,
      Seq((1.5d, 0)).toDF("d", "bucket"), "bucket", batchId = 0L)
    intercept[IllegalArgumentException] {
      ManifestTable.buildBloomIndex(spark, root2, "d")
    }
  }

  test("bloom index: mixed-size builds size each file's filter from its own footer row count") {
    // r14 verdict #6: one build sized every filter by the LARGEST file's
    // rows. Wire format is [int32 k][int32 words][words×int64], so a
    // row's numBits is (len-8)*8 — pin that a 10-row and a 3000-row file
    // built TOGETHER get different, own-count-derived sizes, and that
    // the mixed sidecar still probes correctly.
    val root = tmpDir("graft_manifest_bloom6") + "/t"
    ManifestTable.commit(spark, root,
      (0 until 10).map(i => (i.toLong, 0)).toDF("k", "bucket")
        .repartition(1), "bucket", batchId = 0L)
    ManifestTable.commit(spark, root,
      (1000 until 4000).map(i => (i.toLong, 1)).toDF("k", "bucket")
        .repartition(1), "bucket", batchId = 1L)
    val s = ManifestTable.buildBloomIndex(spark, root, "k", bitsPerKey = 10)
    assert(s.filesIndexed == 2, s"$s")
    val side = spark.read.parquet(s"$root/_bloom/col=k")
      .select("file", "bloom").collect()
      .map(r => (r.getString(0),
        (r.getAs[Array[Byte]](1).length - 8) * 8)).toMap
    val small = side.find(_._1.startsWith("bucket=0/")).get._2
    val big = side.find(_._1.startsWith("bucket=1/")).get._2
    assert(small >= 100 && small < 10 * 3000,
      s"small file over-sized by the build: $small bits")
    assert(big >= 10 * 3000, s"big file under-sized: $big bits")
    assert(big > small,
      s"per-file sizing lost: small=$small big=$big")
    // the mixed-sizing sidecar probes soundly: a key only in the small
    // file opens only that file
    val st = ManifestTable.deleteRows(spark, root, Seq(5L).toDF("k"), "k")
    assert(st.get.rowsDeleted == 1L && st.get.filesScanned == 1, s"$st")
  }

  test("bloom index: string keys hash through xxhash64 on both sides of the probe") {
    val root = tmpDir("graft_manifest_bloom5") + "/t"
    // four buckets of url-ish string keys; no zone maps on the key (a
    // string scatter is exactly where the bloom earns its keep)
    for (b <- 0 until 4)
      ManifestTable.commit(spark, root,
        (0 until 10).map(i => (s"https://host$b/doc$i", b))
          .toDF("url", "bucket").repartition(1),
        "bucket", batchId = b.toLong)
    ManifestTable.buildBloomIndex(spark, root, "url")
    val st = ManifestTable.deleteRows(spark, root,
      Seq("https://host0/doc3", "https://host3/doc7").toDF("url"), "url")
    assert(st.get.filesScanned == 2 && st.get.filesTotal == 4,
      s"string-key bloom probe did not prune: $st")
    assert(st.get.rowsDeleted == 2L)
    assert(ManifestTable.read(spark, root).get.count() == 38L)
    assert(ManifestTable.read(spark, root).get
      .filter(col("url") === "https://host0/doc3").count() == 0L)
    // an absent key no-ops regardless of what the bloom keeps
    assert(ManifestTable.deleteRows(spark, root,
      Seq("https://elsewhere/doc1").toDF("url"), "url").isEmpty)
  }

  test("bloom index: merge detection probes the sidecar even without zone maps") {
    val root = tmpDir("graft_manifest_bloom4") + "/t"
    // NO statsCol: the envelope can't prune — the bloom must
    val data = (0 until 4).flatMap(b => (0 until 10).map(i => (100L * b + i, b)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "bucket"), "bucket", batchId = 0L)
    ManifestTable.buildBloomIndex(spark, root, "k")
    val st = ManifestTable.merge(spark, root,
      Seq((8L, 0), (308L, 3)).toDF("k", "bucket"), "k", batchId = 1L)
    assert(st.get.filesScanned == 2 && st.get.filesTotal == 4,
      s"merge detection did not bloom-prune: $st")
    assert(st.get.rowsUpdated == 2L && st.get.rowsInserted == 0L)
    assert(ManifestTable.read(spark, root).get.count() == 40L)
  }

  test("restore: undo reinstates an earlier version's files, keeps history linear, preserves the fence") {
    val root = tmpDir("graft_manifest_restore") + "/t"
    val data = (0 until 8).map(i => (i, 100L + i))
    ManifestTable.commit(spark, root, part(data.toDF("k", "v")),
      "bucket", batchId = 5L, statsCol = Some("v"))
    val (v0Lines, _) = ManifestTable.readManifest(spark, root, 0L)
    // a bad takedown lands as v1...
    ManifestTable.deleteRows(spark, root, Seq(1, 2, 6).toDF("k"), "k")
    assert(ManifestTable.read(spark, root).get.count() == 5L)
    // ...and RESTORE undoes it as v2 — manifest-only, exact file list
    val rv = ManifestTable.restore(spark, root, 0L)
    assert(rv == 2L)
    assert(rows(ManifestTable.read(spark, root).get) == data.toSet,
      "restore did not reinstate the pre-delete rows")
    assert(ManifestTable.readManifest(spark, root, 2L)._1.toSet ==
      v0Lines.toSet, "restore must reference v0's exact files")
    // history stays LINEAR: the undone delete still time-travels
    assert(ManifestTable.readVersion(spark, root, 1L).count() == 5L)
    // fence preserved: the pre-restore ingest batch still no-ops...
    assert(ManifestTable.commit(spark, root,
      part(Seq((0, 999L)).toDF("k", "v")), "bucket", batchId = 5L,
      statsCol = Some("v")) == 2L)
    // ...and zone maps still prune on the restored lines
    val (kept, total) = ManifestTable.prunedFiles(spark, root, "v", 100L, 100L)
    assert(kept.nonEmpty && kept.length < total)
    // the CDF feed composes across the undo: catching up over the restore
    // version nets exactly the rows the restore brought back
    val (ar, rr) = ManifestTable.changes(spark, root, 1L, 2L)
    assert(rows(ar.exceptAll(rr)) ==
      Set((1, 101L), (2, 102L), (6, 106L)),
      "net-added across the restore must be the un-deleted rows")
    assert(rr.exceptAll(ar).isEmpty, "a restore of a delete nets no removals")
    // restoring to the current version is a no-op; bad targets refuse
    assert(ManifestTable.restore(spark, root, 2L) == 2L)
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, root, 7L)
    }
    // vacuum AFTER a restore keeps the restored (old) files — they are
    // referenced by the new current manifest — and retires the undone
    // delete's rewrite files past retention
    ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(rows(ManifestTable.read(spark, root).get) == data.toSet,
      "vacuum deleted files the restored current version references")
    intercept[Exception] { // the undone version is gone past retention
      ManifestTable.readVersion(spark, root, 1L).collect()
    }
    // restore to a vacuumed version refuses loudly
    intercept[Exception] { ManifestTable.restore(spark, root, 0L) }
    // OCC: a restore racing a concurrent write aborts — retrying would
    // silently undo the winner
    ManifestTable.commit(spark, root,
      part(Seq((8, 208L)).toDF("k", "v")), "bucket", batchId = 6L,
      statsCol = Some("v"))
    val base = ManifestTable.currentVersion(spark, root)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.restore(spark, root, base - 1,
        beforePublish = () => {
          ManifestTable.commit(spark, root,
            part(Seq((9, 209L)).toDF("k", "v")), "bucket", batchId = 7L,
            statsCol = Some("v")): Unit
        })
    }
    assert(ManifestTable.read(spark, root).get
      .filter(col("k") === 9).count() == 1L,
      "the aborted restore undid a concurrent commit")
  }

  test("deferred delete (merge-on-read): mask applies immediately, accumulates, refuses CoW; optimize purges physically") {
    val root = tmpDir("graft_manifest_dv") + "/t"
    val data = (0 until 4).flatMap(b => (0 until 10).map(i => (100L * b + i, b)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "bucket").repartition(1), "bucket", batchId = 0L,
      statsCol = Some("k"))
    ManifestTable.buildBloomIndex(spark, root, "k")
    // O(list) record; the mask applies to EVERY read immediately —
    // including time travel (deleted means deleted) and pruned reads
    val d1 = ManifestTable.deleteRowsDeferred(spark, root,
      Seq(5L).toDF("k"), "k")
    assert(d1 == ManifestTable.DeferredDeleteStats(1L, 1L), s"$d1")
    assert(ManifestTable.read(spark, root).get.count() == 39L)
    assert(ManifestTable.readVersion(spark, root, 0L)
      .filter(col("k") === 5L).count() == 0L,
      "time travel must not resurrect a taken-down row")
    assert(ManifestTable.readPruned(spark, root, "k", 0L, 9L)
      .filter(col("k") === 5L).count() == 0L)
    // retried same list: idempotent (same content partition, no growth)
    ManifestTable.deleteRowsDeferred(spark, root, Seq(5L).toDF("k"), "k")
    assert(new java.io.File(s"$root/_dv/col=k").listFiles()
      .count(_.getName.startsWith("batch=")) == 1)
    // a DISTINCT takedown accumulates
    val d2 = ManifestTable.deleteRowsDeferred(spark, root,
      Seq(205L).toDF("k"), "k")
    assert(d2.keysPending == 2L, s"$d2")
    assert(ManifestTable.read(spark, root).get.count() == 38L)
    // copy-on-write rewrites refuse while a mask is pending
    intercept[IllegalArgumentException] {
      ManifestTable.deleteRows(spark, root, Seq(105L).toDF("k"), "k")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, root,
        Seq((105L, 1)).toDF("k", "bucket"), "k", batchId = 1L)
    }
    assert(ManifestTable.fsck(spark, root).deferredDeleteKeys ==
      Map("k" -> 2L))
    // PURGE: optimize force-rewrites exactly the partitions holding
    // masked rows (bloom-pruned detection: envelope [5,205] spans three
    // buckets, the sidecar narrows to the two that hold a key)
    val stats = ManifestTable.optimize(spark, root)
    assert(stats.map(_.partition).toSet == Set("bucket=0", "bucket=2"),
      s"purge rewrote the wrong partitions: $stats")
    val (rels, _) = ManifestTable.readManifest(spark, root,
      ManifestTable.currentVersion(spark, root))
    val raw = spark.read.parquet(rels.map(r => s"$root/$r"): _*)
    assert(raw.count() == 38L &&
      raw.filter(col("k").isin(5L, 205L)).count() == 0L,
      "the purge must remove masked rows PHYSICALLY")
    assert(ManifestTable.pendingDeferredDeletes(spark, root).isEmpty)
    assert(ManifestTable.fsck(spark, root).ok)
    // CoW works again after the purge
    assert(ManifestTable.deleteRows(spark, root,
      Seq(105L).toDF("k"), "k").get.rowsDeleted == 1L)
    // a mask matching no physical row clears without any rewrite
    ManifestTable.deleteRowsDeferred(spark, root, Seq(9999L).toDF("k"), "k")
    assert(ManifestTable.optimize(spark, root).isEmpty)
    assert(ManifestTable.pendingDeferredDeletes(spark, root).isEmpty,
      "a no-op purge must still clear the redundant mask")
  }

  test("deferred delete: the purging OPTIMIZE is the version the change feed surfaces the deletion in") {
    val root = tmpDir("graft_manifest_dv2") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L), (1, 11L), (2, 22L)).toDF("k", "v")), "bucket", 0L)
    ManifestTable.deleteRowsDeferred(spark, root, Seq(11L).toDF("v"), "v")
    val vPre = ManifestTable.currentVersion(spark, root)
    // the mask is not a version: the feed shows nothing yet
    assert(vPre == 0L)
    ManifestTable.optimize(spark, root)
    val vPost = ManifestTable.currentVersion(spark, root)
    assert(vPost == vPre + 1, "the purge must publish a version")
    val (added, removed) = ManifestTable.changes(spark, root, vPre, vPost)
    val netRemoved = removed.exceptAll(added)
      .select("k", "v").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(netRemoved == Set((1, 11L)),
      "the purge version's net change must be exactly the deletion")
    assert(rows(ManifestTable.read(spark, root).get) ==
      Set((0, 10L), (2, 22L)))
  }

  test("deferred delete: the lineage fold purges too, and pruning survives it") {
    val root = tmpDir("graft_dv_fold") + "/t"
    // the st18 shape: one lineage partition per batch, k zone-registered
    for (b <- 0 until 4)
      ManifestTable.commit(spark, root,
        (0 until 10).map(i => (100L * b + i, s"b$b")).toDF("k", "part")
          .repartition(1), "part", batchId = b.toLong,
        statsCol = Some("k"))
    ManifestTable.deleteRowsDeferred(spark, root,
      Seq(5L, 205L).toDF("k"), "k")
    assert(ManifestTable.read(spark, root).get.count() == 38L)
    val st = ManifestTable.optimizeRewritePartitions(spark, root, "folded",
      targetBytes = 1024L) // several range-clustered output files
    assert(st.isDefined && st.get.outputFiles > 1, s"$st")
    // physically gone, mask cleared, fence preserved
    val (rels, batch) = ManifestTable.readManifest(spark, root,
      ManifestTable.currentVersion(spark, root))
    val raw = spark.read.parquet(rels.map(r => s"$root/$r"): _*)
    assert(raw.count() == 38L &&
      raw.filter(col("k").isin(5L, 205L)).count() == 0L,
      "the fold must purge masked rows physically")
    assert(batch == 3L, "the fold must not move the ingest fence")
    assert(ManifestTable.pendingDeferredDeletes(spark, root).isEmpty)
    // zone maps regenerated over the range-clustered output: a narrow
    // range still skips files
    val (pruned, total) = ManifestTable.prunedFiles(spark, root, "k", 105L, 108L)
    assert(pruned.nonEmpty && pruned.size < total,
      s"pruning died after the fold-purge: $pruned of $total")
    assert(ManifestTable.readPruned(spark, root, "k", 105L, 108L)
      .filter(col("k").between(105L, 108L)).count() == 4L)
  }

  test("review pins: purge respects partition spelling and refuses the default partition; fsck tolerates legal stat shapes") {
    // 1. a '007'-style partition value: partition-type inference would
    // respell it '7' and the purge's forced set would miss the real
    // directory — the detection must read the partition column as a
    // STRING (the U9 discipline), or the takedown is silently lost
    val r1 = tmpDir("graft_dv_esc") + "/t"
    ManifestTable.commit(spark, r1,
      Seq((1L, "007"), (2L, "007"), (3L, "b1")).toDF("k", "part"),
      "part", 0L)
    ManifestTable.deleteRowsDeferred(spark, r1, Seq(1L).toDF("k"), "k")
    val stats = ManifestTable.optimize(spark, r1)
    assert(stats.map(_.partition) == Seq("part=007"), s"$stats")
    assert(ManifestTable.pendingDeferredDeletes(spark, r1).isEmpty)
    val (rels, _) = ManifestTable.readManifest(spark, r1,
      ManifestTable.currentVersion(spark, r1))
    assert(spark.read.parquet(rels.map(r => s"$r1/$r"): _*)
      .filter(col("k") === 1L).count() == 0L,
      "the takedown was lost to partition-type inference")
    // 2. masked rows in the default partition: the purge refuses loudly
    // (the deleteRows/merge discipline) and KEEPS the mask
    val r2 = tmpDir("graft_dv_null") + "/t"
    ManifestTable.commit(spark, r2,
      Seq((1L, Option.empty[String]), (2L, Some("b0")))
        .toDF("k", "part"), "part", 0L)
    ManifestTable.deleteRowsDeferred(spark, r2, Seq(1L).toDF("k"), "k")
    intercept[IllegalArgumentException] {
      ManifestTable.optimize(spark, r2)
    }
    assert(ManifestTable.pendingDeferredDeletes(spark, r2) ==
      Map("k" -> 1L), "a refused purge must keep the mask")
    assert(ManifestTable.read(spark, r2).get
      .filter(col("k") === 1L).count() == 0L)
    // 3. fsck accepts the writers' LEGAL stat shapes: a trailing
    // no-stats string column ('rel|mn|mx||' loses its trailing empties
    // to split) and pre-migration short lines
    val r3 = tmpDir("graft_fsck_shapes") + "/t"
    ManifestTable.commit(spark, r3,
      Seq((1L, 0)).toDF("k", "bucket").repartition(1), "bucket", 0L,
      statsCol = Some("k"))
    ManifestTable.commit(spark, r3,
      Seq((2L, Option.empty[String], 1)).toDF("k", "s", "bucket")
        .repartition(1), "bucket", 1L, statsColumns = Seq("k", "s"))
    val rep = ManifestTable.fsck(spark, r3)
    assert(rep.ok, s"legal stat shapes flagged as corrupt: $rep")
    // 4. a corrupt RETAINED (non-current) header reports, never throws
    Files.write(Paths.get(s"$r3/_manifest/v0.json"),
      "{broken".getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(s"$r3/_manifest/.v0.json.crc"))
    val rep2 = ManifestTable.fsck(spark, r3)
    assert(!rep2.ok && rep2.badStatLines.contains("_manifest/v0.json"),
      s"$rep2")
  }

  test("fsck: a healthy table reports ok; missing files, stat corruption and orphans are detected precisely") {
    val root = tmpDir("graft_manifest_fsck") + "/t"
    val data = (0 until 2).flatMap(b => (0 until 10).map(i => (100L * b + i, b)))
    ManifestTable.commit(spark, root,
      data.toDF("k", "bucket").repartition(1), "bucket", batchId = 0L,
      statsCol = Some("k"))
    ManifestTable.buildBloomIndex(spark, root, "k")
    val r0 = ManifestTable.fsck(spark, root)
    assert(r0.ok && r0.filesLive == 2 && r0.missingFiles.isEmpty &&
      r0.orphanDataFiles.isEmpty && r0.statViolations.isEmpty, s"$r0")
    assert(r0.bloomCoverage == Map("k" -> ((2, 2))), s"$r0")
    // an ORPHAN (vacuum debris shape): reported, but never a failure
    val liveFile = new java.io.File(s"$root/bucket=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(liveFile.getParentFile, "v9-orphan.parquet")
    java.nio.file.Files.copy(liveFile.toPath, orphan.toPath)
    val r1 = ManifestTable.fsck(spark, root)
    assert(r1.ok && r1.orphanDataFiles == Seq(s"bucket=0/${orphan.getName}"),
      s"$r1")
    orphan.delete()
    // STAT corruption: narrow a recorded interval below the footer's —
    // the dangerous kind (pruning would skip a file that has rows)
    val mf = Paths.get(s"$root/_manifest/v0.json")
    // Hadoop's local FS keeps .crc sidecars — a raw tamper must drop the
    // checksum too or every read fails as a ChecksumException instead
    def tamper(text: String): Unit = {
      Files.write(mf, text.getBytes("UTF-8"))
      Files.deleteIfExists(Paths.get(s"$root/_manifest/.v0.json.crc"))
    }
    val pristine = new String(Files.readAllBytes(mf), "UTF-8")
    val tampered = pristine.linesIterator.map { l =>
      if (l.startsWith("bucket=1/")) {
        // line shape: path|%#bytes:rows|min|max — narrow the max
        val p = l.split('|'); s"${p(0)}|${p(1)}|${p(2)}|105" // real max is 109
      } else l
    }.mkString("\n")
    tamper(tampered)
    val r2 = ManifestTable.fsck(spark, root)
    assert(!r2.ok && r2.statViolations.exists(_.startsWith("bucket=1/")),
      s"$r2")
    // MALFORMED suffix: non-numeric bounds
    tamper(pristine.linesIterator.map { l =>
      if (l.startsWith("bucket=1/")) l.split('|')(0) + "|x|y" else l
    }.mkString("\n"))
    val r3 = ManifestTable.fsck(spark, root)
    assert(!r3.ok && r3.badStatLines.nonEmpty, s"$r3")
    // MISSING file: a manifest line whose bytes are gone
    tamper(pristine)
    val gone = new java.io.File(s"$root/bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val stash = new java.io.File(root, gone.getName)
    java.nio.file.Files.move(gone.toPath, stash.toPath)
    val r4 = ManifestTable.fsck(spark, root)
    assert(!r4.ok && r4.missingFiles == Seq(s"bucket=1/${gone.getName}"),
      s"$r4")
    java.nio.file.Files.move(stash.toPath, gone.toPath)
    // UNREADABLE header (schemaB64 corrupted): reported, never thrown
    tamper(pristine
      .replaceAll("\"schemaB64\":\"[^\"]+\"", "\"schemaB64\":\"!!!\""))
    val r5 = ManifestTable.fsck(spark, root)
    assert(!r5.ok && r5.schemaUnreadable, s"$r5")
    tamper(pristine)
    assert(ManifestTable.fsck(spark, root).ok)
  }

  test("deferred delete: a purge racing an ingest that ADDS masked-key files keeps the mask pending — the takedown is never lost") {
    // the round-14 ADVICE high finding: optimize's retry only aborts on
    // REMOVED input lines, so a winner that ADDS files carrying masked
    // keys composes into the published manifest un-purged — clearing the
    // mask from the stale detection snapshot would silently resurrect
    // the takedown. The purge must instead keep the mask pending.
    val root = tmpDir("graft_dv_race") + "/t"
    for (b <- 0 until 2)
      ManifestTable.commit(spark, root,
        (0 until 10).map(i => (100L * b + i, s"b$b")).toDF("k", "part")
          .repartition(2), "part", batchId = b.toLong,
        statsCol = Some("k"))
    ManifestTable.deleteRowsDeferred(spark, root, Seq(5L).toDF("k"), "k")
    // the purge races an ingest landing a NEW partition that CONTAINS the
    // masked key (k=5 again) — disjoint lines, so the retry composes
    val stats = ManifestTable.optimize(spark, root,
      beforePublish = () => {
        ManifestTable.commit(spark, root,
          Seq((5L, "b9"), (901L, "b9")).toDF("k", "part"), "part",
          batchId = 9L, statsCol = Some("k")): Unit
      })
    assert(stats.nonEmpty, "the purge should have rewritten part=b0")
    // the mask MUST survive: the winner's k=5 row was never purge-scanned
    assert(ManifestTable.pendingDeferredDeletes(spark, root) ==
      Map("k" -> 1L),
      "the purge cleared the mask off a stale snapshot — takedown lost")
    assert(ManifestTable.read(spark, root).get
      .filter(col("k") === 5L).count() == 0L,
      "a masked-key row resurfaced after the racing purge")
    // the NEXT purge owns the winner's file: physical removal + clear
    ManifestTable.optimize(spark, root)
    assert(ManifestTable.pendingDeferredDeletes(spark, root).isEmpty)
    val (rels, _) = ManifestTable.readManifest(spark, root,
      ManifestTable.currentVersion(spark, root))
    assert(spark.read.parquet(rels.map(r => s"$root/$r"): _*)
      .filter(col("k") === 5L).count() == 0L,
      "the second purge left masked-key bytes on disk")
    assert(ManifestTable.read(spark, root).get
      .filter(col("k") === 901L).count() == 1L,
      "the racing ingest's unmasked row must survive both purges")
  }

  test("deferred delete: the no-op purge publishes a version fence — an ingest racing the detection scan cannot resurrect masked keys") {
    // the round-14 ADVICE fast-path finding: with no partitions to
    // rewrite, clearing the mask straight off the detection snapshot
    // raced any concurrent ingest. The no-op purge now publishes an
    // empty fence version and keeps the mask when a winner slipped in.
    val root = tmpDir("graft_dv_race2") + "/t"
    ManifestTable.commit(spark, root,
      (0 until 10).map(i => (i.toLong, "b0")).toDF("k", "part")
        .repartition(1), "part", batchId = 0L, statsCol = Some("k"))
    // mask a key that matches NO physical row yet
    ManifestTable.deleteRowsDeferred(spark, root, Seq(9999L).toDF("k"), "k")
    val v0 = ManifestTable.currentVersion(spark, root)
    // the ingest lands k=9999 between detection and the (would-be) clear
    val stats = ManifestTable.optimize(spark, root,
      beforePublish = () => {
        ManifestTable.commit(spark, root,
          Seq((9999L, "b1")).toDF("k", "part"), "part", batchId = 1L,
          statsCol = Some("k")): Unit
      })
    assert(stats.isEmpty)
    assert(ManifestTable.pendingDeferredDeletes(spark, root) ==
      Map("k" -> 1L),
      "the no-op purge cleared a mask the racing ingest just re-populated")
    assert(ManifestTable.read(spark, root).get
      .filter(col("k") === 9999L).count() == 0L,
      "the racing ingest's masked-key row resurfaced")
    // an undisturbed no-op purge clears the redundant mask behind a fence
    // version (every later commit is then post-takedown by version order)
    ManifestTable.deleteRowsDeferred(spark, root, Seq(8888L).toDF("k"), "k")
    // first purge the real k=9999 row (forced rewrite), masks clear fully
    ManifestTable.optimize(spark, root)
    assert(ManifestTable.pendingDeferredDeletes(spark, root).isEmpty)
    assert(ManifestTable.currentVersion(spark, root) > v0,
      "the purge must publish (fence or rewrite) before clearing")
    assert(ManifestTable.fsck(spark, root).ok)
  }

  test("publish arbiter is atomic on the local FS: two truly concurrent same-batch writers never lose a commit") {
    // the round-14 ADVICE low finding: check-then-rename leaves a window
    // where both writers observe the slot free and one manifest is
    // silently overwritten. The file: arbiter is now POSIX link(2) —
    // run many racing pairs and require exactly one winner whose
    // manifest content is intact every time.
    val root = tmpDir("graft_manifest_atomic") + "/t"
    ManifestTable.commit(spark, root,
      part(Seq((0, 10L)).toDF("k", "v")), "bucket", batchId = 0L)
    for (round <- 1 to 6) {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { i =>
        new Thread(() => {
          try {
            gate.await()
            // same batch id: deterministic under the fence (see the OCC
            // memory note) — one writer commits, the other idempotently
            // skips; NEITHER may corrupt the published manifest
            results.add(ManifestTable.commit(spark, root,
              part(Seq((i, 100L * round + i)).toDF("k", "v")), "bucket",
              batchId = round.toLong))
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); gate.countDown()
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      // both calls return the same committed version, and the manifest at
      // that version parses and reads back exactly one writer's rows
      val vs = results.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(vs.length == 2 && vs.toSet.size == 1, s"round $round: $vs")
      val df = ManifestTable.readVersion(spark, root, vs.head)
      val winners = df.filter(col("v") >= 100L * round).count()
      assert(winners == 1L,
        s"round $round: expected exactly one winner's row, got $winners")
    }
  }

  test("shuffle twin: merge/deleteRows/purge above the broadcast limit are value-identical to the broadcast path, bloom probe included") {
    // the d2/d2b discipline applied to the table verbs (r14 verdict #2):
    // force the shuffle semi/anti joins and the join-shaped bloom probe
    // with zeroed limits, and require the exact state the broadcast twin
    // produces. Keys are scattered (% 17) so the zone envelope alone
    // keeps everything and the bloom sidecar does the narrowing in BOTH
    // probe shapes.
    def build(tag: String): String = {
      val root = tmpDir(s"graft_twin_$tag") + "/t"
      for (b <- 0 until 4)
        ManifestTable.commit(spark, root,
          (0 until 50).map(i => (i * 4L + b, s"v${i * 4 + b}", s"b$b"))
            .toDF("k", "s", "part").repartition(1), "part",
          batchId = b.toLong, statsCol = Some("k"))
      ManifestTable.buildBloomIndex(spark, root, "k")
      root
    }
    def runVerbs(root: String)
        : (ManifestTable.DeleteStats, ManifestTable.MergeStats) = {
      // all keys ≡ 2 (mod 4): they live in part=b2 only, but their
      // envelope [6, 142] intersects every interleaved file — only the
      // bloom probe can narrow, in both its shapes
      val del = ManifestTable.deleteRows(spark, root,
        Seq(6L, 74L, 142L).toDF("k"), "k").get
      val mrg = ManifestTable.merge(spark, root,
        Seq((8L, "UPD8", "b1"), (9997L, "NEW", "b0"))
          .toDF("k", "s", "part"), "k", batchId = 99L).get
      (del, mrg)
    }
    def snapshot(root: String): Set[(Long, String, String)] =
      ManifestTable.read(spark, root).get
        .select("k", "s", "part").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val a = build("bcast")
    val (delA, mrgA) = runVerbs(a)
    val b = build("shuffle")
    spark.conf.set("spark.graft.manifest.keyBroadcastLimit", "0")
    spark.conf.set("spark.graft.manifest.bloomLiteralLimit", "0")
    try {
      val (delB, mrgB) = runVerbs(b)
      assert(snapshot(a) == snapshot(b),
        "the shuffle twin diverged from the broadcast path")
      assert((delA.rowsDeleted, delA.partitionsRewritten, delA.filesScanned) ==
        (delB.rowsDeleted, delB.partitionsRewritten, delB.filesScanned),
        s"delete stats diverged: $delA vs $delB")
      assert((mrgA.rowsUpdated, mrgA.rowsInserted, mrgA.filesScanned) ==
        (mrgB.rowsUpdated, mrgB.rowsInserted, mrgB.filesScanned),
        s"merge stats diverged: $mrgA vs $mrgB")
      // the bloom sidecar narrowed detection below the candidate total in
      // both twins (scattered keys: the envelope alone keeps all files)
      assert(delA.filesScanned < delA.filesTotal,
        s"bloom probe stopped narrowing: $delA")
      // the deferred-delete purge twin: mask + purge under zeroed limits
      ManifestTable.deleteRowsDeferred(spark, b,
        Seq(12L, 160L).toDF("k"), "k")
      ManifestTable.optimize(spark, b)
      assert(ManifestTable.pendingDeferredDeletes(spark, b).isEmpty)
      assert(ManifestTable.read(spark, b).get
        .filter(col("k").isin(12L, 160L)).isEmpty,
        "the shuffle-twin purge left masked rows")
      // the join twin is a BUCKET-EXPLODED EQUI-JOIN (round 17): no
      // CartesianProduct / BroadcastNestedLoopJoin at ANY key count —
      // the old crossJoin re-read the whole sidecar once per key
      // partition in exactly the backfill regime this twin serves
      def noCartesian(df: org.apache.spark.sql.DataFrame, clue: String): Unit = {
        df.collect()
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
          val here = p match {
            case _: org.apache.spark.sql.execution.joins.CartesianProductExec =>
              Seq("CartesianProduct")
            case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
              Seq("BroadcastNestedLoopJoin")
            case _ => Nil
          }
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              Seq(q.plan)
            case other => other.children
          }
          here ++ kids.flatMap(walk)
        }
        val bad = walk(df.queryExecution.executedPlan)
        assert(bad.isEmpty,
          s"$clue: all-pairs operator in the probe plan: ${bad.mkString(", ")}")
      }
      noCartesian(ManifestTable.bloomProbePlanForSpec(spark, b, "k",
        Seq(6L, 74L, 142L).toDF("k")), "shuffle twin (limits zeroed)")
    } finally {
      spark.conf.unset("spark.graft.manifest.keyBroadcastLimit")
      spark.conf.unset("spark.graft.manifest.bloomLiteralLimit")
    }
    // broadcast regime too: the bucketed key frame hash-joins, never BNLJ
    {
      def noCartesian2(df: org.apache.spark.sql.DataFrame): Unit = {
        df.collect()
        val s = df.queryExecution.executedPlan.toString
        assert(!s.contains("CartesianProduct") &&
          !s.contains("BroadcastNestedLoopJoin"),
          s"broadcast twin planned an all-pairs operator:\n$s")
      }
      noCartesian2(ManifestTable.bloomProbePlanForSpec(spark, b, "k",
        Seq(6L, 74L, 142L).toDF("k")))
    }
  }

  test("zOrder fold: pruning survives on BOTH zone-map columns; the plain fold loses the secondary") {
    // r14 verdict #3: the primary-range fold keeps primary pruning but
    // smears every other column across all output files. Two tables with
    // IDENTICAL content — k ascending, y an independent scatter — folded
    // plain vs z-ordered; the z-ordered one must keep y prunable.
    def build(tag: String): String = {
      val root = tmpDir(s"graft_zfold_$tag") + "/t"
      for (b <- 0 until 4)
        ManifestTable.commit(spark, root,
          (0 until 100).map { j =>
            val i = 100 * b + j
            (i.toLong, ((i * 37) % 400).toLong, s"b$b")
          }.toDF("k", "y", "part").repartition(1), "part",
          batchId = b.toLong, statsColumns = Seq("k", "y"))
      root
    }
    val plain = build("plain")
    ManifestTable.optimizeRewritePartitions(spark, plain, "opt",
      targetBytes = 512L)
    val zed = build("zorder")
    val stZ = ManifestTable.optimizeRewritePartitions(spark, zed, "opt",
      targetBytes = 512L, zOrderCols = Some(("k", "y")))
    assert(stZ.exists(_.outputFiles > 7),
      s"need several output files for a pruning pin: $stZ")
    // identical content either way
    def rowsOf(r: String): Set[(Long, Long)] =
      ManifestTable.read(spark, r).get.select("k", "y").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rowsOf(plain) == rowsOf(zed), "the zOrder fold changed values")
    // the narrow secondary band y ∈ [0, 40]
    val yPred = Seq(ManifestTable.LongRange("y", 0L, 40L))
    val (plainY, plainTotal) = ManifestTable.prunedFilesMulti(spark, plain, yPred)
    val (zedY, zedTotal) = ManifestTable.prunedFilesMulti(spark, zed, yPred)
    assert(plainY.size == plainTotal,
      s"fixture broke: the plain fold was expected to smear y " +
        s"(${plainY.size}/$plainTotal)")
    assert(zedY.size < zedTotal,
      s"zOrder fold did not keep the secondary prunable: ${zedY.size}/$zedTotal")
    // the primary keeps pruning too (rectangles, not stripes)
    val (zedK, _) = ManifestTable.prunedFilesMulti(spark, zed,
      Seq(ManifestTable.LongRange("k", 0L, 40L)))
    assert(zedK.size < zedTotal,
      s"zOrder fold lost primary pruning: ${zedK.size}/$zedTotal")
    // pruned read + row filter stays exact
    assert(ManifestTable.readPrunedMulti(spark, zed, yPred)
      .filter(col("y").between(0L, 40L)).count() ==
      rowsOf(zed).count(_._2 <= 40L))
    // refusal: unregistered / non-long columns
    intercept[IllegalArgumentException] {
      ManifestTable.optimizeRewritePartitions(spark, zed, "opt2",
        zOrderCols = Some(("k", "nope")))
    }
  }

  test("vacuum: superseded files deleted past retention, live versions intact") {
    val root = tmpDir("graft_manifest_vac") + "/t"
    ManifestTable.commit(spark, root, part(Seq((0, 10L)).toDF("k", "v")), "bucket", 0L)
    ManifestTable.commit(spark, root, part(Seq((0, 20L)).toDF("k", "v")), "bucket", 1L)
    ManifestTable.commit(spark, root, part(Seq((0, 30L)).toDF("k", "v")), "bucket", 2L)
    // v0/v1's bucket-0 files are superseded; keepVersions=1 retains only v2
    val swept = ManifestTable.vacuum(spark, root, keepVersions = 1)
    assert(swept >= 2L, s"expected superseded files + old manifests swept, got $swept")
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 30L)))
    // grace window: a fresh superseded file survives
    ManifestTable.commit(spark, root, part(Seq((0, 40L)).toDF("k", "v")), "bucket", 3L)
    assert(ManifestTable.vacuum(spark, root, graceMs = 60 * 60 * 1000L) == 0L)
    assert(rows(ManifestTable.read(spark, root).get) == Set((0, 40L)))
  }
}
