package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Retrieval, TextAnalysis, VectorIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins for the OPTIMIZE fold over the streamed index artifacts: directory
  * count collapses, search values are identical pre/post fold, the folded
  * retry fence no-ops, and post-fold absorbs keep working.
  */
class IndexOptimizeSpec extends SparkSpec {

  private lazy val emb = graft.core.Tables.load(spark, sf, "embeddings")
  private lazy val docs = graft.core.Tables.load(spark, sf, "documents")

  private def digit(col0: String) = s"substring(md5(CAST($col0 AS STRING)), 1, 1)"

  private def batchDirs(rel: String): Seq[String] =
    Option(new java.io.File(rel).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName)

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged across the OPTIMIZE fold")

  test("vector index: fold collapses dirs, search identical, retry fence holds, post-fold absorb works") {
    val base = emb.filter(expr(s"${digit("vec_id")} NOT IN ('0', '1')"))
    val b1 = emb.filter(expr(s"${digit("vec_id")} = '0'"))
    val b2 = emb.filter(expr(s"${digit("vec_id")} = '1'"))
    val queries = Seq(0L, 1L, 2L)

    val folded = tmpDir("opt_vindex_a")
    VectorIndex.build(base, folded)
    VectorIndex.absorb(spark, folded, b1, "b1")
    assert(batchDirs(s"$folded/codes").size == 2)
    val stats = VectorIndex.optimize(spark, folded)
    assert(stats.map(_.rel).sorted == Seq("assign", "codes", "sigs"),
      "all three per-vector relations must fold")
    for (rel <- Seq("assign", "codes", "sigs"))
      assert(batchDirs(s"$folded/$rel") == Seq(s"batch=${IndexOptimize.FoldedPartition}"),
        s"$rel did not collapse to the consolidated partition")
    assert(IndexOptimize.foldedBatches(folded) == Set("base", "b1"))

    // retry of a folded batch must be a no-op (no duplicate rows)
    val nCodes = spark.read.parquet(s"$folded/codes").count()
    VectorIndex.absorb(spark, folded, b1, "b1")
    assert(spark.read.parquet(s"$folded/codes").count() == nCodes,
      "retried absorb after OPTIMIZE duplicated index rows")

    // post-fold absorb of a NEW batch works; the twin never optimizes
    VectorIndex.absorb(spark, folded, b2, "b2")
    val plain = tmpDir("opt_vindex_b")
    VectorIndex.build(base, plain)
    VectorIndex.absorb(spark, plain, b1, "b1")
    VectorIndex.absorb(spark, plain, b2, "b2")
    sameRows(
      VectorIndex.searchTopKCosine(spark, folded, emb, queries, k = 10),
      VectorIndex.searchTopKCosine(spark, plain, emb, queries, k = 10),
      "IVF-PQ search")
    sameRows(
      VectorIndex.cascadeSearch(spark, folded, emb, queries, k = 10),
      VectorIndex.cascadeSearch(spark, plain, emb, queries, k = 10),
      "cascade search")

    // rebuilding an optimized artifact in place must refuse loudly
    intercept[IllegalArgumentException] { VectorIndex.build(emb, folded) }

    // idempotence: a second optimize (now 2 dirs again after b2) refolds,
    // then a third with one dir is a structural no-op
    VectorIndex.optimize(spark, folded)
    assert(VectorIndex.optimize(spark, folded).isEmpty,
      "optimize of an already-folded artifact must be a no-op")
  }

  test("dedup index: incremental dedup identical across the fold; folded retry no-ops") {
    val corpus = docs.filter(expr(s"${digit("doc_id")} != '0'"))
    val delta = docs.filter(expr(s"${digit("doc_id")} = '0'"))
    val c1 = corpus.filter(col("doc_id") % 2 === 0)
    val c2 = corpus.filter(col("doc_id") % 2 === 1)

    val path = tmpDir("opt_dindex")
    Dedup.writeIndex(c1, path)
    Dedup.appendToIndex(path, c2, "b1")
    // materialize eagerly: the fold atomically replaces the files this
    // lazy plan would list, and a pre-fold plan evaluated post-fold fails
    // loudly by design (the documented reader contract)
    val before = Dedup.incrementalFromIndex(spark, path, delta)
      .localCheckpoint(true)
    assert(batchDirs(s"$path/sets").size == 2)
    Dedup.optimizeIndex(spark, path)
    assert(batchDirs(s"$path/sets") == Seq(s"batch=${IndexOptimize.FoldedPartition}"))
    assert(batchDirs(s"$path/bands") == Seq(s"batch=${IndexOptimize.FoldedPartition}"))
    sameRows(before, Dedup.incrementalFromIndex(spark, path, delta),
      "incremental dedup")

    val nSets = spark.read.parquet(s"$path/sets").count()
    Dedup.appendToIndex(path, c2, "b1") // folded retry
    assert(spark.read.parquet(s"$path/sets").count() == nSets,
      "retried appendToIndex after OPTIMIZE duplicated index rows")
    intercept[IllegalArgumentException] { Dedup.writeIndex(c1, path) }
  }

  test("text index: BM25 search identical across the fold") {
    val c1 = docs.filter(col("doc_id") % 2 === 0)
    val c2 = docs.filter(col("doc_id") % 2 === 1)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))

    val path = tmpDir("opt_tindex")
    Retrieval.buildTextIndex(c1, path)
    Retrieval.absorbTextIndex(path, c2, "b1")
    val before = Retrieval.searchTextIndex(spark, path, queries, k = 10)
      .localCheckpoint(true)
    Retrieval.optimizeTextIndex(spark, path)
    assert(batchDirs(s"$path/postings") == Seq(s"batch=${IndexOptimize.FoldedPartition}"))
    sameRows(before, Retrieval.searchTextIndex(spark, path, queries, k = 10),
      "BM25 search")

    val nPost = spark.read.parquet(s"$path/postings").count()
    Retrieval.absorbTextIndex(path, c2, "b1") // folded retry
    assert(spark.read.parquet(s"$path/postings").count() == nPost,
      "retried absorbTextIndex after OPTIMIZE duplicated postings")
  }

  test("heavy-hitters summary: exact-verified search identical across the fold") {
    val c1 = docs.filter(col("doc_id") % 2 === 0)
    val c2 = docs.filter(col("doc_id") % 2 === 1)

    val path = tmpDir("opt_hh")
    TextAnalysis.absorbHeavyHitters(path, c1, "b0", k = 32)
    TextAnalysis.absorbHeavyHitters(path, c2, "b1", k = 32)
    val before = TextAnalysis.searchHeavyHitters(spark, path, docs, k = 32)
      .localCheckpoint(true)
    TextAnalysis.optimizeHeavyHitters(spark, path)
    assert(batchDirs(s"$path/cands") == Seq(s"batch=${IndexOptimize.FoldedPartition}"))
    sameRows(before, TextAnalysis.searchHeavyHitters(spark, path, docs, k = 32),
      "heavy-hitters search")
  }

  /** One streamed artifact under the absorb fence: `init` lays down its
    * first batch, `absorb` lands one more, `rel` is counted, and `rebuild`
    * (where the artifact has one) rebuilds in place.
    */
  private case class Fenced(
      name: String,
      rel: String,
      init: String => Unit,
      absorb: (String, String) => Unit,
      optimize: String => Unit,
      rebuild: Option[String => Unit])

  test("absorb fence on all four artifacts: folded retry no-ops, reserved id and in-place rebuild refused") {
    val c1 = docs.filter(col("doc_id") % 2 === 0)
    val c2 = docs.filter(col("doc_id") % 2 === 1)
    val e1 = emb.filter(col("vec_id") % 2 === 0)
    val e2 = emb.filter(col("vec_id") % 2 === 1)
    val artifacts = Seq(
      Fenced("vector index", "codes",
        VectorIndex.build(e1, _),
        (p, id) => VectorIndex.absorb(spark, p, e2, id),
        VectorIndex.optimize(spark, _),
        Some(VectorIndex.build(emb, _))),
      Fenced("dedup index", "sets",
        Dedup.writeIndex(c1, _),
        (p, id) => Dedup.appendToIndex(p, c2, id),
        Dedup.optimizeIndex(spark, _),
        Some(Dedup.writeIndex(c1, _))),
      Fenced("text index", "postings",
        Retrieval.buildTextIndex(c1, _),
        (p, id) => Retrieval.absorbTextIndex(p, c2, id),
        Retrieval.optimizeTextIndex(spark, _),
        Some(Retrieval.buildTextIndex(c1, _))),
      Fenced("heavy hitters", "cands",
        TextAnalysis.absorbHeavyHitters(_, c1, "b0", k = 32),
        (p, id) => TextAnalysis.absorbHeavyHitters(p, c2, id, k = 32),
        TextAnalysis.optimizeHeavyHitters(spark, _),
        None))
    for (a <- artifacts) {
      val path = tmpDir("opt_fence")
      a.init(path)
      a.absorb(path, "b1")
      a.optimize(path)
      val n = spark.read.parquet(s"$path/${a.rel}").count()
      a.absorb(path, "b1") // folded retry
      assert(spark.read.parquet(s"$path/${a.rel}").count() == n,
        s"${a.name}: retried absorb after OPTIMIZE changed the row count")
      assert(batchDirs(s"$path/${a.rel}") == Seq(s"batch=${IndexOptimize.FoldedPartition}"),
        s"${a.name}: retried absorb re-grew the folded layout")
      intercept[IllegalArgumentException] {
        a.absorb(path, IndexOptimize.FoldedPartition)
      }
      intercept[IllegalArgumentException] { a.absorb(path, "") }
      a.rebuild.foreach(r => intercept[IllegalArgumentException] { r(path) })
    }
  }

  test("a fold whose tombstones delete every row reports 0 rows") {
    val few = docs.filter(col("doc_id") < 10).localCheckpoint(true)
    val path = tmpDir("opt_all_deleted")
    Retrieval.buildTextIndex(few, path)
    Retrieval.deleteFromTextIndex(spark, path, few.select("doc_id"))
    val stats = Retrieval.optimizeTextIndex(spark, path)
    assert(stats.map(s => (s.rel, s.rows)) == Seq(("postings", 0L)))
    assert(spark.read.parquet(s"$path/postings").count() == 0L)
  }

  test("mid-swap crash recovery: recover promotes __optnext, next optimize self-heals") {
    val c1 = docs.filter(col("doc_id") % 2 === 0)
    val c2 = docs.filter(col("doc_id") % 2 === 1)
    val path = tmpDir("opt_crash")
    Retrieval.buildTextIndex(c1, path)
    Retrieval.absorbTextIndex(path, c2, "b1")
    val truth = spark.read.parquet(s"$path/postings").drop("batch")
      .localCheckpoint(true)
    Retrieval.optimizeTextIndex(spark, path)
    // simulate the crash window: live dir renamed away, consolidated data
    // stranded under __optnext (exactly between the two atomic renames)
    val live = new java.io.File(s"$path/postings")
    val next = new java.io.File(s"$path/postings__optnext")
    java.nio.file.Files.move(live.toPath, next.toPath)
    // readers fail loudly, not silently partial
    intercept[Exception] {
      spark.read.parquet(s"$path/postings").collect()
    }
    // recovery promotes the complete consolidated tree
    assert(IndexOptimize.recover(spark, path, Seq("postings")) == Seq("postings"))
    val healed = spark.read.parquet(s"$path/postings").drop("batch")
    assert(healed.exceptAll(truth).isEmpty && truth.exceptAll(healed).isEmpty,
      "recovered relation lost rows")
    // and a healthy relation recovers as a no-op
    assert(IndexOptimize.recover(spark, path, Seq("postings")).isEmpty)
  }

  test("reserved batch id and marker bookkeeping") {
    val path = tmpDir("opt_guard")
    Retrieval.buildTextIndex(docs.limit(10), path)
    intercept[IllegalArgumentException] {
      Retrieval.absorbTextIndex(path, docs.limit(5), IndexOptimize.FoldedPartition)
    }
    // single-partition relation: optimize is a structural no-op, no marker
    assert(Retrieval.optimizeTextIndex(spark, path).isEmpty)
    assert(IndexOptimize.foldedBatches(path).isEmpty)
  }
}
