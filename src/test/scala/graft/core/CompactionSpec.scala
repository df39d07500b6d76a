package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  test("compaction merges a splintered directory without changing the data") {
    val in = tmpDir("graft_compact_in_")
    val out = tmpDir("graft_compact_out_")
    // splinter: 64 part files for a tiny table — the streaming-sink shape
    Tables.load(spark, sf, "orders").repartition(64).write
      .mode("overwrite").parquet(in)
    val stats = Compaction.compact(spark, in, out, targetBytes = Long.MaxValue)
    assert(stats.inputFiles == 64, s"fixture wrote ${stats.inputFiles} files")
    assert(stats.outputFiles == 1, s"expected 1 compacted file, got ${stats.outputFiles}")
    val want = spark.read.parquet(in)
    val got = spark.read.parquet(out)
    assert(stats.rows == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("compacting zero-row input files reports 0 rows") {
    val in = tmpDir("graft_compact_empty_in_")
    val out = tmpDir("graft_compact_empty_out_")
    Tables.load(spark, sf, "nation").limit(0).write.mode("overwrite").parquet(in)
    val stats = Compaction.compact(spark, in, out)
    assert(stats.inputFiles >= 1, "the fixture wrote no file")
    assert(stats.rows == 0L)
    assert(spark.read.parquet(out).count() == 0L)
  }

  test("output file count tracks the byte target") {
    val in = tmpDir("graft_compact_in2_")
    val out = tmpDir("graft_compact_out2_")
    Tables.load(spark, sf, "lineitem").repartition(16).write
      .mode("overwrite").parquet(in)
    val bytes = Option(new java.io.File(in).listFiles()).get
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    // target = half the input → 2 output files (ceil division)
    val stats = Compaction.compact(spark, in, out, targetBytes = bytes / 2 + 1)
    assert(stats.outputFiles == 2, s"got ${stats.outputFiles} files for a 2-file target")
    assert(stats.inputBytes == bytes)
  }

  test("compacting a directory onto itself (or a nested path) is refused, input intact") {
    val in = tmpDir("graft_compact_guard_")
    Tables.load(spark, sf, "nation").repartition(4).write
      .mode("overwrite").parquet(in)
    val before = spark.read.parquet(in).count()
    // overwrite would delete the target before the lazy input read runs —
    // all three spellings must be refused up front
    intercept[IllegalArgumentException](Compaction.compact(spark, in, in))
    intercept[IllegalArgumentException](
      Compaction.compact(spark, in, in + "/nested_out"))
    intercept[IllegalArgumentException](
      Compaction.compact(spark, in + "/sub", in))
    assert(spark.read.parquet(in).count() == before, "guard must not touch the input")
  }
}
