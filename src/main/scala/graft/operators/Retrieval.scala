package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse (lexical) retrieval over the document corpus — the BM25 axis the
  * dense ANN stack ([[Similarity]]) fuses with in real retrieval systems,
  * plus the persisted-postings form whose streamed maintenance is st16
  * (the st11/st15 contract applied to the text index).
  *
  * K14 — BM25 top-k (Robertson & Zaragoza 2009, "The Probabilistic
  * Relevance Framework: BM25 and Beyond"): per (query, doc) the classic
  *
  *   Σ_t  IDF(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * rendered ENTIRELY in integer milli-units (the x18/x19 convention):
  * `log` is libm-specific in its last bit and would break cross-engine
  * value-gating, so the IDF factor is the Robertson odds RATIO itself,
  * (N − df + ½)/(df + ½) as ((2(N−df)+1)·1000) div (2df+1), monotone in
  * the classic log-IDF — per-term ranking is preserved; multi-term sums
  * weight rare terms MORE sharply than the log form (documented, pinned
  * by the oracle replay). k1 = 1.2 and b = 0.75 (the standard defaults)
  * live as 1200/750 milli so every division is integral and engine-exact.
  *
  * K15 — hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
  * Büttcher 2009): RRF(d) = Σ_legs 1/(60 + rank_leg(d)), in micro-units
  * (1000000 div (60 + rank)) — rank-only fusion needs no score
  * calibration between the BM25 leg and the cosine leg, which is exactly
  * why production hybrid search uses it.
  *
  * Scale shape at 100 TB: queries are the SMALL side everywhere
  * (broadcast); the postings relation aggregates map-side (zipfian head
  * collapses in partials); the vocabulary (df) join carries no broadcast
  * hint (Heaps-law caveat, same as x18 — AQE picks broadcast exactly when
  * the aggregated vocabulary fits); per-query ranking is the bounded
  * [[graft.functions.TopKByScore]] aggregate — no window over the corpus,
  * no global sort, nothing driver-side.
  */
object Retrieval {

  /** (doc_id, tok) token stream — the corpus tokenization every stage
    * shares (single-space split, the x18 convention; empties dropped).
    */
  private def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  /** The postings relation (doc_id, tok, tf) — the ONLY stored state of the
    * text index: doc length, document frequency, corpus size and total
    * length all derive from it by aggregation, so incremental maintenance
    * ([[absorbTextIndex]]) appends postings and nothing else ever needs
    * rebuilding.
    */
  def textIndexPostings(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // spreadNarrowScan: the tokenize explode is the heavy per-row kernel
    // and otherwise runs inside a 1-task single-file scan stage (measured
    // 3 × 0.6 s single-task stages in k14); identity at production split
    // counts
    tokens(Similarity.spreadNarrowScan(docs), idCol, textCol)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))

  /** Distinct (query_id, tok) pairs from the first `nTerms` tokens of each
    * query text — BM25 over distinct query terms (multiplicity dropped,
    * documented; the oracle replays the same set).
    */
  def queryTerms(
      queries: DataFrame, // (query_id, qtext)
      nTerms: Int = 6): DataFrame =
    queries.select(col("query_id"),
        explode(slice(split(col("qtext"), " "), 1, nTerms)).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()

  /** Eagerly materialize `df` ONLY while `sizeHint`'s planned scan size
    * stays under `spark.graft.search.materializeLimitBytes` (default
    * 2 GiB). The BM25 roads read their postings three times (doc lengths,
    * document frequencies, scoring join) with differing exchange subtrees
    * ReuseExchange cannot dedup, so one materialization wins whenever the
    * relation fits — but an UNCONDITIONAL localCheckpoint would copy a
    * 100 TB index into executor memory per search (ADVICE r21). The gate
    * reads the optimizer's own size estimate of the raw input; past the
    * limit the relation scans in place, the stored-index design shape.
    */
  private def materializeIfSmall(
      df: DataFrame, sizeHint: DataFrame): DataFrame = {
    val limit = BigInt(df.sparkSession.conf
      .get("spark.graft.search.materializeLimitBytes", (2L << 30).toString))
    if (sizeHint.queryExecution.optimizedPlan.stats.sizeInBytes <= limit)
      df.localCheckpoint(true)
    else df
  }

  /** All (query_id, doc_id) BM25 scores (milli-units) from a postings
    * relation — the shared scoring core of [[bm25TopK]] (inline postings)
    * and [[searchTextIndex]] (stored postings).
    */
  def bm25Scores(
      postings: DataFrame,
      qterms: DataFrame, // (query_id, tok)
      k1Milli: Long = 1200L,
      bMilli: Long = 750L): DataFrame = {
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    // one-row corpus stats: broadcast into the scoring join
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    // document frequency over the QUERY'S tokens only (guide §2.3 —
    // aggregate fewer bytes): the scoring join consumes df for the query
    // terms alone, so the semi-join drops every other token's postings
    // BEFORE the aggregation exchange — the corpus-wide vocabulary count
    // (the widest shuffle in this operator at scale) shrinks to the
    // matching rows. Inner-join semantics below are unchanged, and a
    // token's df does not depend on which rows are dropped for OTHER
    // tokens — values identical.
    val qtoks = broadcast(qterms.select("tok").distinct())
    val dfRel = postings.join(qtoks, Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(qterms), "tok") // corpus side stays map-only
      .join(dfRel, "tok")             // tiny now: AQE broadcasts it
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      // length normalization in milli: 1 − b + b·dl/avgdl, avgdl = sum_dl/n_docs
      .withColumn("norm_milli",
        expr(s"1000 - $bMilli + ($bMilli * dl * n_docs) div sum_dl"))
      // Robertson odds ratio (N − df + ½)/(df + ½) in milli — the
      // integer-exact IDF stand-in (see object doc)
      .withColumn("idf_milli",
        expr("((2 * (n_docs - df) + 1) * 1000) div (2 * df + 1)"))
      .withColumn("term_score",
        expr(s"(idf_milli * tf * ${k1Milli + 1000L}) div " +
          s"(tf * 1000 + ($k1Milli * norm_milli) div 1000)"))
      .groupBy("query_id", "doc_id")
      .agg(sum("term_score").as("score_milli"))
  }

  /** Bounded per-query ranking of a (query_id, doc_id, score_milli) frame:
    * (score desc, doc_id asc), the graft_topk total order. score_milli
    * stays < 2⁵³ by construction (idf ≤ 2N·10³, tf ≤ dl), so the double
    * round-trip through the aggregate is exact.
    */
  private def rankTopKMilli(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(scored.sparkSession)
    scored
      .groupBy("query_id")
      .agg(expr(s"graft_topk(CAST(score_milli AS DOUBLE), doc_id, $k)").as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(
        col("query_id"), col("e.id").as("doc_id"),
        col("e.score").cast("long").as("score_milli"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** K14: BM25 top-k per query over `docs`. Output (query_id, doc_id,
    * score_milli, rank), rank 1-based, ties on doc_id. `excludeSelf` drops
    * the query's own document before ranking (the K15 fusion convention,
    * matching the cosine leg's self-exclusion).
    */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame, // (query_id, qtext)
      k: Int = 10,
      nTerms: Int = 6,
      excludeSelf: Boolean = false): DataFrame = {
    // postings feed THREE aggregation consumers inside bm25Scores (doc
    // lengths, document frequencies, and the scoring join itself) whose
    // exchange subtrees differ, so ReuseExchange cannot dedup them — left
    // lazy, the corpus tokenize runs three times (measured in k14's event
    // log; re-confirmed r22: dropping the materialization cost 1.76 s →
    // 3.14 s min-of-3). Materialization is SIZE-GATED ([[materializeIfSmall]],
    // ADVICE r21): a corpus past the limit scans in place instead of
    // copying itself into executor memory per call.
    val scored = bm25Scores(
      materializeIfSmall(textIndexPostings(docs), docs),
      queryTerms(queries, nTerms))
    val pruned =
      if (excludeSelf) scored.filter(col("doc_id") =!= col("query_id"))
      else scored
    rankTopKMilli(pruned, k)
  }

  /** K15: hybrid sparse+dense retrieval by Reciprocal Rank Fusion. Each
    * query doc (query_id = doc_id = vec_id — the corpus's embedding
    * correspondence) retrieves `legK` candidates through BOTH legs —
    * BM25 over `docs` and exact cosine over `embeddings` — and candidates
    * are fused on RANK alone: rrf_micro = Σ 1000000 div (60 + rank), a
    * doc found by one leg only contributes that one term. Output the
    * fused top-k: (query_id, doc_id, rrf_micro, rank).
    *
    * Both legs exclude the query doc itself. The fusion join is tiny
    * (|queries|·2·legK rows); everything upstream is the already-bounded
    * leg machinery.
    */
  def hybridRrfTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      queryIds: Seq[Long],
      k: Int = 10,
      legK: Int = 20,
      nTerms: Int = 6,
      rrfK: Int = 60): DataFrame = {
    val queries = docs.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val sparse = bm25TopK(docs, queries, k = legK, nTerms = nTerms,
        excludeSelf = true)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.topKCosine(embeddings, queryIds, k = legK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val fused = sparse.unionByName(dense)
      .withColumn("contrib", expr(s"1000000 div ($rrfK + rank)"))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("score_milli"))
    rankTopKMilli(fused, k)
      .withColumnRenamed("score_milli", "rrf_micro")
  }

  // ── persisted text index (st16's artifact) ────────────────────────────

  /** Build the stored postings index at `path` from a corpus — postings
    * land under `batch=base` (hive partition), the d9/k13 layout.
    */
  def buildTextIndex(docs: DataFrame, path: String): Unit = {
    require(graft.core.IndexOptimize.foldedBatches(path).isEmpty,
      s"text index at $path has OPTIMIZE-folded batches — rebuilding in " +
        "place would duplicate consolidated postings; delete the artifact " +
        "directory first")
    absorbTextIndex(path, docs, "base")
  }

  /** Absorb one ingest batch of documents into the stored index: tokenize
    * + count THIS batch only (O(delta)), write under `batch=<id>` with
    * mode-Overwrite scoped to that partition — idempotent per batch id
    * (the [[Dedup.appendToIndex]] retry contract). Because postings are a
    * pure per-doc map, base-build + delta-absorb ≡ one-shot build
    * (spec-pinned), so absorption order can never change the index.
    */
  def absorbTextIndex(path: String, batch: DataFrame, batchId: String): Unit =
    graft.core.IndexOptimize.absorbBatch(
        batch.sparkSession, path, batchId, TextIndexRels) {
      // rebalance before the stored write (guide §6 file sizing): postings
      // of a small absorb batch otherwise fan into one near-empty file per
      // task, and every search re-lists and re-opens them all
      textIndexPostings(batch).hint("rebalance")
        .write.mode("overwrite").parquet(s"$path/postings/batch=$batchId")
    }

  /** The stored index's batch-partitioned relations (absorb and OPTIMIZE). */
  private val TextIndexRels = Seq("postings")

  /** DELETE documents from the stored text index ([[graft.core
    * .Tombstones]]): O(|takedown list|) now, physical at the next
    * [[optimizeTextIndex]]. Because EVERY BM25 statistic (df, dl, N,
    * avgdl) re-derives from the postings relation at query time,
    * anti-joining the mask before aggregation makes the post-delete
    * search value-identical to an index rebuilt from the surviving
    * corpus — scores included, not just the result set (spec-pinned;
    * Lucene's soft-deletes serve stale df/N until merge, this serves
    * exact ones immediately).
    */
  def deleteFromTextIndex(
      spark: SparkSession,
      path: String,
      ids: DataFrame,
      idCol: String = "doc_id",
      batchId: String = "takedown"): Unit =
    graft.core.Tombstones.add(spark, path, ids, idCol, batchId)

  /** OPTIMIZE the stored postings: fold accumulated `batch=*` absorb
    * partitions into one consolidated partition ([[graft.core
    * .IndexOptimize]]), dropping tombstoned documents' rows in the same
    * pass (the delete absorb). BM25 stats re-derive from the row union,
    * so the search is value-identical post-fold (spec-pinned).
    */
  def optimizeTextIndex(
      spark: SparkSession,
      path: String,
      targetBytes: Long = graft.core.Compaction.DefaultTargetBytes)
      : Seq[graft.core.IndexOptimize.RelOptStats] =
    graft.core.IndexOptimize.optimize(
      spark, path, TextIndexRels, targetBytes,
      tombstoneIdCol = Some("doc_id"))

  /** BM25 top-k answered from the STORED postings — value-identical to
    * [[bm25TopK]] on the same corpus minus any tombstoned documents
    * (shared oracle): df/dl/corpus stats re-derive from the postings
    * relation by aggregation AFTER the tombstone mask, so the search
    * needs no other stored state and never touches raw document text.
    */
  def searchTextIndex(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int = 10,
      nTerms: Int = 6): DataFrame = {
    // masked postings feed bm25Scores' three aggregation consumers — left
    // lazy, the scan + tombstone anti-join re-ran per consumer (measured
    // 3 × 0.3 s narrow stages in d16). Materialization is SIZE-GATED
    // ([[materializeIfSmall]], ADVICE r21): past the limit the stored
    // index scans in place — the right 100 TB shape — instead of eagerly
    // copying the whole corpus's postings into executor memory per search.
    val raw = spark.read.parquet(s"$path/postings")
      .select("doc_id", "tok", "tf")
    val postings = materializeIfSmall(
      graft.core.Tombstones.filterLive(raw, path, "doc_id"), raw)
    rankTopKMilli(bm25Scores(postings, queryTerms(queries, nTerms)), k)
  }
}
