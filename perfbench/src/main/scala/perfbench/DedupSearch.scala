package perfbench

import graft.core.Engine
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The dedup and search operators on a seeded corpus with planted
  * near-duplicates: `Dedup.semDedup` over `withPerturbedCopy`,
  * `Similarity.knnGraph`, `Dedup.minHashNearDup` followed by
  * `Dedup.clustersTwoPhase`, and query batches of `Retrieval.bm25TopK` and
  * `Similarity.topKCosine`. No CSV parsing and no manifest commit.
  *
  * Size: 500 base vectors (1,000 with their perturbed copies), 512
  * vectors in groups of 8 for the kNN graph, 2,000 documents of 60 words
  * plus 100 planted near-copies, and query batches of 8. At these sizes the
  * fixed per-call cost of the operators (tens of jobs, checkpoints) is most
  * of each call, as at the keys ROADMAP names heavy: halving the corpora
  * barely shortens a call. One cycle (each build once, each query kind
  * twice) takes about 16 s warm on 4 cores, and its warm-up about 22 s
  * (semDedup's first call alone about 12 s), so a run makes one cycle per
  * 16 s of `--seconds`, at least one. Corpora of 8k / 4k / 20k items take
  * 5-40 s per call and do not fit a run's time budget.
  *
  * Cached state the operators leave behind is released after every call
  * (`Engine.releaseCachedState`, untimed), so each call starts from the
  * same state; `new_cached_rdds` counts what a call left before release.
  */
final class DedupSearch(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val Dim = 64
  private val SemBase = 500
  private val Offset = 100000L
  private val KnnGroups = 64
  private val KnnGroupSize = 8
  private val K = 5
  private val Docs = 2000
  private val Twins = 100
  private val DocWords = 60
  private val Vocab = 5000
  private val QueryBatch = 8
  /** semDedup's recall floor on the planted pairs (see [[semDedup]]). */
  private val SemRecallFloor = 0.95

  private val Cycle = Vector("semdedup", "bm25", "knn", "topk", "neardup", "bm25", "topk")
  private val opsPerRun = Cycle.size * math.max(1, math.round(seconds / 16.0).toInt)

  private val inputs = dir.resolve("inputs")
  private var sem: DataFrame = _
  private var knn: DataFrame = _
  private var docs: DataFrame = _
  private var twins: Seq[(Long, Long)] = Nil
  private var queryDocs: Vector[Long] = Vector.empty
  private var docText: Map[Long, String] = Map.empty
  private var rnd: scala.util.Random = _
  private var generated: (Seq[(Long, Array[Float])], Seq[(Long, Array[Float])], Seq[(Long, String)]) = _

  def generate(): String = {
    val r = new scala.util.Random(seed)
    val dg = new Digest
    def gauss(n: Int) = Array.fill(n)(r.nextGaussian())
    val semRows = (0 until SemBase).map(i => (i.toLong, gauss(Dim).map(_.toFloat)))
    val knnRows = (0 until KnnGroups).flatMap { g =>
      val c = gauss(Dim)
      (0 until KnnGroupSize).map(m => ((g * KnnGroupSize + m).toLong,
        c.map(x => (x + 0.05 * r.nextGaussian()).toFloat)))
    }
    Seq(semRows, knnRows).foreach(_.foreach { case (id, v) => dg.add(id); v.foreach(x => dg.add(x.toDouble)) })
    // the first word is unique to its document (a title-like token), so a
    // query made of a document's first words must rank that document first
    val text = (0 until Docs).map { d =>
      d.toLong -> (s"t$d" +: Seq.fill(DocWords - 1)(s"w${r.nextInt(Vocab)}")).mkString(" ")
    }
    // a planted near-copy differs only in its last word: Jaccard 0.97 on
    // 3-word shingles, far above the 0.6 threshold
    val originals = r.shuffle((0 until Docs).toVector).take(Twins)
    twins = originals.zipWithIndex.map { case (o, j) => (o.toLong, (Docs + j).toLong) }
    val twinText = twins.map { case (o, t) =>
      t -> (text(o.toInt)._2.split(' ').dropRight(1) :+ s"w${r.nextInt(Vocab)}x").mkString(" ")
    }
    docText = (text ++ twinText).toMap
    (text ++ twinText).foreach { case (id, s) => dg.add(id); dg.add(s) }
    queryDocs = (0 until Docs).map(_.toLong).filterNot(originals.map(_.toLong).toSet).toVector
    generated = (semRows, knnRows, text ++ twinText)
    sem = null
    dg.hex
  }

  /** Writes the generated rows as parquet on first use: the operators
    * read their inputs from files, as they would in production.
    */
  def prepare(): Unit = {
    if (sem == null) {
      val (semRows, knnRows, docRows) = generated
      Util.deleteTree(inputs)
      semRows.toDF("vec_id", "embedding").write.parquet(inputs.resolve("sem").toString)
      knnRows.toDF("vec_id", "embedding").write.parquet(inputs.resolve("knn").toString)
      docRows.toDF("doc_id", "text").write.parquet(inputs.resolve("docs").toString)
      sem = spark.read.parquet(inputs.resolve("sem").toString)
      knn = spark.read.parquet(inputs.resolve("knn").toString)
      docs = spark.read.parquet(inputs.resolve("docs").toString)
    }
    rnd = new scala.util.Random(seed * 31 + 11)
  }

  private def semDedup(rec: Recorder, i: Int): Unit =
    rec.op("write", "semdedup")(tracer.opSpan("operators.semDedup", i)(
      Dedup.semDedup(Dedup.withPerturbedCopy(sem, Dim, Offset)))(_.collect())).foreach { rows =>
      val group = rows.map(r => r.getAs[Long]("id") -> r.getAs[Long]("group_id")).toMap
      rec.check(group.size == 2 * SemBase, s"semDedup returned ${group.size} ids, expected ${2 * SemBase}")
      // no group may join two different planted pairs
      val mixed = group.groupBy(_._2).values.count(_.keys.map(_ % Offset).toSet.size > 1)
      rec.check(mixed == 0, s"semDedup put unrelated vectors together in $mixed groups")
      // candidates are compared only inside one k-means cell, so a pair the
      // clustering splits across two cells is missed by design
      val missed = (0 until SemBase).count(b => group.get(b).isEmpty || group.get(b) != group.get(b + Offset))
      rec.check(missed <= SemBase * (1.0 - SemRecallFloor),
        s"semDedup missed $missed of $SemBase planted duplicate pairs")
    }

  private def knnGraph(rec: Recorder, i: Int): Unit =
    rec.op("write", "knn")(tracer.opSpan("operators.knnGraph", i)(
      Similarity.knnGraph(knn, k = K))(_.collect())).foreach { rows =>
      val per = rows.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length).toMap
      val n = KnnGroups * KnnGroupSize
      rec.check(per.size == n && per.values.forall(_ == K),
        s"knnGraph: ${per.size} of $n nodes have rows, ${per.count(_._2 != K)} without exactly $K")
      val foreign = rows.count(r => r.getAs[Long]("query_id") / KnnGroupSize !=
        r.getAs[Long]("neighbor_id") / KnnGroupSize)
      rec.check(foreign == 0, s"knnGraph: $foreign edges leave their planted group")
    }

  private def nearDup(rec: Recorder, i: Int): Unit =
    rec.op("write", "neardup") {
      // the action checkpoints the pairs so the clustering reads them
      // instead of recomputing them (one extra cached RDD in this span)
      val pairs = tracer.opSpan("operators.minHashNearDup", i)(
        Dedup.minHashNearDup(docs))(_.localCheckpoint())
      val clusters = tracer.opSpan("operators.clustersTwoPhase", i)(
        Dedup.clustersTwoPhase(docs.select(col("doc_id").as("id")), pairs))(_.collect())
      (pairs.collect(), clusters)
    }.foreach { case (pairs, clusters) =>
      val found = pairs.map(p => (p.getAs[Long]("a_id"), p.getAs[Long]("b_id"))).toSet
      val missed = twins.count { case (o, t) => !found((o, t)) && !found((t, o)) }
      rec.check(missed == 0, s"minHashNearDup missed $missed of ${twins.size} planted pairs")
      val cluster = clusters.map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      val split = twins.count { case (o, t) => cluster.get(o).isEmpty || cluster.get(o) != cluster.get(t) }
      rec.check(split == 0, s"clustersTwoPhase split $split of ${twins.size} planted pairs")
    }

  private def batch(): Seq[Long] = Seq.fill(QueryBatch)(queryDocs(rnd.nextInt(queryDocs.size))).distinct

  private def bm25(rec: Recorder, i: Int): Unit = {
    val qs = batch()
    val queries = qs.map(q => (q, docText(q).split(' ').take(6).mkString(" "))).toDF("query_id", "qtext")
    rec.op("read", "bm25")(tracer.opSpan("operators.bm25TopK", i)(
      Retrieval.bm25TopK(docs, queries))(_.collect())).foreach { rows =>
      val top = rows.filter(_.getAs[Long]("rank") == 1L)
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id")).toMap
      rec.check(qs.forall(q => top.get(q).contains(q)),
        s"bm25TopK: a query copied from a document did not rank it first ($top)")
    }
  }

  private def topK(rec: Recorder, i: Int): Unit = {
    val qs = Seq.fill(QueryBatch)(rnd.nextInt(SemBase).toLong).distinct
    val corpus = Dedup.withPerturbedCopy(sem, Dim, Offset).withColumnRenamed("vec", "embedding")
    rec.op("read", "topk")(tracer.opSpan("operators.topKCosine", i)(
      Similarity.topKCosine(corpus, qs, k = K))(_.collect())).foreach { rows =>
      val top = rows.filter(_.getAs[Long]("rank") == 1L)
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
      rec.check(qs.forall(q => top.get(q).contains(q + Offset)),
        s"topKCosine: a query's planted copy is not its nearest neighbour ($top)")
    }
  }

  private def step(rec: Recorder, kind: String, i: Int): Unit = {
    kind match {
      case "semdedup" => semDedup(rec, i)
      case "knn" => knnGraph(rec, i)
      case "neardup" => nearDup(rec, i)
      case "bm25" => bm25(rec, i)
      case "topk" => topK(rec, i)
    }
    Engine.releaseCachedState(spark)
  }

  def warmUp(rec: Recorder): Unit = Cycle.distinct.foreach(k => step(rec, k, -1))

  def run(rec: Recorder): Unit = (0 until opsPerRun).foreach(i => step(rec, Cycle(i % Cycle.size), i))

  def verify(rec: Recorder): Unit = ()

  def detail(rec: Recorder): Seq[(String, Double, String)] = {
    def rate(key: String, items: Double) = {
      val xs = rec.latencies(key)
      if (xs.isEmpty) 0.0 else items / (Util.median(xs) / 1000.0)
    }
    Seq(
      ("dedup_search.semdedup_vecs_per_s", rate("write:semdedup", 2.0 * SemBase), "1/s"),
      ("dedup_search.knn_vecs_per_s", rate("write:knn", KnnGroups * KnnGroupSize), "1/s"),
      ("dedup_search.neardup_docs_per_s", rate("write:neardup", Docs + Twins), "1/s"),
      ("dedup_search.search_queries_per_s", {
        val xs = rec.latencies("read")
        if (xs.isEmpty) 0.0 else QueryBatch / (Util.median(xs) / 1000.0)
      }, "1/s"))
  }
}
