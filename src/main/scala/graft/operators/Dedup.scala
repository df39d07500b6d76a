package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-training-data pipeline (north-star
  * extensions, SURVEY.md §7.4): exact content dedup, MinHash-LSH near-dedup,
  * SimHash fingerprints, blocked n-gram Jaccard, and embedding-cosine
  * near-dedup.
  *
  * Design rules for the 100 TB point, applied throughout:
  *  - NEVER all-pairs: candidate pairs come only from LSH band buckets or
  *    explicit block keys; the quadratic blow-up is confined to rows that
  *    already collide on a locality-sensitive key.
  *  - All hashing is derived from `md5` (codegen'd built-in) with fixed
  *    arithmetic, so every result is deterministic across engines and runs —
  *    no seed state, no JVM-hashCode dependence.
  *  - Exact verification (true Jaccard / true cosine) runs ONLY on candidate
  *    pairs, so the expensive set/vector math is proportional to the
  *    candidate count, not n².
  *  - Everything is built-in expressions / higher-order functions inside
  *    whole-stage codegen — no UDFs on the hot path.
  */
object Dedup {

  /** Mersenne prime 2^31-1: modulus for the MinHash permutation family. */
  private val P = graft.functions.MinHashSignature.P

  /** Size cap (bytes) for broadcasting the doc-set side of the verify-stage
    * joins; see [[resolveVerifyBroadcast]]. The default is a deliberate
    * executor-memory budget for a hash relation of per-doc arrays — far
    * above Spark's 10 MB `autoBroadcastJoinThreshold` (these joins hit every
    * candidate pair twice, so broadcasting earns its memory), far below any
    * whole-corpus size at scale.
    */
  val VerifyBroadcastMaxBytes = "spark.graft.dedup.verifyBroadcastMaxBytes"
  private val DefaultVerifyBroadcastMaxBytes: Long = 128L << 20

  /** Decide the physical shape of the verify-stage doc-set joins.
    *
    * `choice = Some(true)` ships the per-doc shingle/word sets to every
    * executor as a broadcast — optimal while the doc-set side fits the
    * budget; `Some(false)` plans a plain shuffle equi-join on id
    * (bucketed/co-partitioned at a real deployment) — the 100 TB shape,
    * where a corpus-wide broadcast is an executor-memory wall. `None`
    * (the default everywhere) decides AUTOMATICALLY from Catalyst's size
    * estimate of the sets relation vs [[VerifyBroadcastMaxBytes]], so a
    * caller scaling from a 1 GB corpus to a 100 TB one never has to know
    * the switch exists. The choice is an explicit parameter, not session
    * conf — concurrent queries on one session can't race each other's
    * toggles. Both paths produce identical results (pinned by DedupSpec).
    */
  private[operators] def resolveVerifyBroadcast(
      sets: DataFrame, choice: Option[Boolean]): Boolean =
    choice.getOrElse {
      val cap = sets.sparkSession.conf
        .get(VerifyBroadcastMaxBytes, DefaultVerifyBroadcastMaxBytes.toString).toLong
      sets.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(cap)
    }

  private def maybeBroadcast(df: DataFrame, doBroadcast: Boolean): DataFrame =
    if (doBroadcast) broadcast(df) else df

  /** Default cap on LSH bucket size before hot-bucket sub-salting kicks in
    * ([[capBuckets]]). Chosen so candidate volume per bucket stays ≤
    * cap·|bucket| (linear) instead of |bucket|² while buckets at the test
    * scales (≤ thousands of rows per bucket) pass through untouched — the
    * capped and uncapped pipelines are bit-identical until a bucket
    * actually exceeds the cap.
    */
  val DefaultBucketCap = 1000

  /** Hot-bucket guard for the band self-joins: sub-salt any (band, key)
    * bucket whose size exceeds `cap` into ceil(n/cap) salted sub-buckets.
    *
    * WHY: candidate generation from an LSH band self-join is O(Σ bucket²).
    * On realistic duplicate-heavy corpora (boilerplate pages, mirrored
    * docs) one bucket holds the whole near-identical cluster, and a single
    * bucket of size B contributes B² joined rows regardless of (bits,
    * bands) — the one shape that goes quadratic at scale. Sub-salting
    * bounds every bucket at `cap`, so the join cost per original bucket is
    * ≤ ceil(B/cap)·cap² ≈ B·cap — linear in B.
    *
    * HOW: one cheap slim aggregation counts bucket sizes ((band, key) →
    * n); rows in oversized buckets get `key := key # salt` where
    * salt = md5(band_key_id) mod ceil(n/cap). The salt hash includes the
    * BAND, so a pair split apart in one band lands together in another
    * band's sub-bucket independently — recall inside a hot bucket decays
    * to 1-(1-1/nsub)^bands per pair instead of collapsing to a single
    * partition draw, and (load-bearing for [[clusters]]) the per-band
    * sub-cliques overlap across bands, keeping a duplicate cluster
    * CONNECTED in the pair graph with overwhelming probability: the
    * downstream component/survivor logic still sees one cluster, one
    * survivor. Buckets at or under the cap keep their key bit-for-bit, so
    * capped and uncapped results are identical until a bucket actually
    * overflows — the documented recall trade only exists where the
    * uncapped join would not have finished anyway.
    *
    * Everything is md5 + integer arithmetic on (band, key, id) — fully
    * deterministic and engine-replayable, same as the banding itself.
    * Extra columns on `banded` (e.g. d6's fingerprint words) ride through
    * untouched.
    */
  private[operators] def capBuckets(banded: DataFrame, cap: Int): DataFrame = {
    require(cap > 1, s"bucketCap must be > 1, got $cap")
    if (cap == Int.MaxValue) banded
    else
      // eager checkpoint: the bucket-size aggregate and the main join both
      // consume `banded`; left lazy, the two branches recompute the whole
      // upstream banding (and can cache-race if persisted) — one
      // materialization here halves the banding cost of every capped
      // pipeline
      saltOversized(banded.localCheckpoint(true), cap)
  }

  /** The sub-salt rewrite of [[capBuckets]] over an ALREADY materialized
    * banding `b` — shared with [[bandedPairSide]] so the salt expression
    * cannot drift between the two entry points.
    */
  private def saltOversized(b: DataFrame, cap: Int): DataFrame = {
    val sizes = b.groupBy("band", "key").agg(count(lit(1)).as("__bn"))
    b.join(sizes, Seq("band", "key"))
      .withColumn("key",
        when(col("__bn") <= cap, col("key"))
          .otherwise(concat_ws("#", col("key"),
            pmod(
              conv(substring(md5(concat_ws("_",
                col("band").cast("string"), col("key"),
                col("id").cast("string"))), 1, 15), 16, 10).cast("long"),
              ceil(col("__bn").cast("double") / cap).cast("long")))))
      .drop("__bn")
  }

  /** One side of a band-bucket pair self-join: [[capBuckets]] plus the
    * explicit row-derived join width ([[Similarity.pairJoinWidth]]) off a
    * SINGLE materialization. The r21 form checkpointed twice per dedup
    * operator — once inside capBuckets and once more on its output before
    * the `count()` that sizes the width — which the r21 driver run priced
    * at a 1.5-2.8x bench-scale regression on the light band joins (d5).
    * Here the banding materializes once; the row count reads the
    * checkpointed blocks; the salt join stays lazy and is computed inside
    * the width exchange, which the self-join's two identical sides share
    * via ReuseExchange.
    */
  private[operators] def bandedPairSide(
      banded: DataFrame, cap: Int,
      alreadyMaterialized: Boolean = false): DataFrame = {
    require(cap > 1, s"bucketCap must be > 1, got $cap")
    val b = if (alreadyMaterialized) banded else banded.localCheckpoint(true)
    val width = Similarity.pairJoinWidth(b.sparkSession, b.count())
    val salted = if (cap == Int.MaxValue) b else saltOversized(b, cap)
    salted.repartition(width, col("band"), col("key"))
  }

  /** Deterministic affine-permutation coefficients (Knuth multiplicative
    * constant; any fixed family works — this one is pinned by tests). Now
    * owned by [[graft.functions.MinHashSignature.coeffs]].
    */
  private[operators] def hashCoeffs(n: Int): Seq[(Long, Long)] = {
    val (as, bs) = graft.functions.MinHashSignature.coeffs(n)
    as.toSeq.zip(bs.toSeq)
  }

  /** SQL expr: distinct `n`-word shingles of a whitespace-tokenized text
    * column; empty array when the text has fewer than `n` tokens.
    */
  private[operators] def wordShingleExpr(textCol: String, n: Int): String =
    s"""CASE WHEN size(split($textCol, ' ')) >= $n
        THEN array_distinct(transform(sequence(0, size(split($textCol, ' ')) - $n),
             i -> array_join(slice(split($textCol, ' '), i + 1, $n), ' ')))
        ELSE CAST(array() AS ARRAY<STRING>) END"""

  /** Exact dedup: keep the lowest-id row per identical content. One shuffle on
    * the content hash (high-cardinality ⇒ even partitioning); the window sees
    * tiny per-hash groups, so state is bounded regardless of total rows.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Near-dedup via MinHash + banded LSH over distinct word shingles.
    *
    * Pipeline (each stage a narrow/shuffle-bounded Spark op):
    *  1. shingle: text → distinct `shingleWords`-word shingles;
    *  2. hash: base 32-bit hash from md5(shingle), then `numHashes` affine
    *     permutations `(a·h+b) mod 2^31-1`, min-aggregated per doc (map-side
    *     partial min ⇒ the shuffle carries one signature row per doc);
    *  3. band: signature split into `bands` bands of `numHashes/bands` rows;
    *     docs sharing a whole band land in the same bucket;
    *  4. candidates: self-join on (band, bucket-key) — the ONLY join, and it
    *     is an equi-join on the bucket key, never a cross product. AQE skew
    *     handling splits pathological buckets (e.g. boilerplate-identical
    *     docs);
    *  5. verify: exact Jaccard on the candidates' shingle sets; keep pairs
    *     `≥ threshold`.
    *
    * Recall is governed by the banding S-curve (midpoint (1/bands)^(rows⁻¹)
    * = 0.5 for the 16×4 default): near-dup pairs at J ≥ 0.85 miss with
    * probability ≤ (1-0.85⁴)¹⁶ ≈ 8·10⁻⁶, but a BORDERLINE pair at exactly
    * J = threshold = 0.6 misses with probability ≈ 0.11 — callers gating on
    * exact equality with brute force near the threshold should widen the
    * banding (e.g. 32×2, at the cost of a J≈0.05 noise floor in the
    * candidate volume). The band parameters are arguments precisely for
    * that trade.
    */
  def minHashNearDup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      threshold: Double = 0.6,
      shingleWords: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyBroadcast: Option[Boolean] = None,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sets = shingleSets(docs, textCol, idCol, shingleWords)
    // capped banding materialized ONCE + explicit row-derived width for
    // the pair self-join ([[bandedPairSide]] — byte-based sizing would
    // serialize the per-bucket pair fan-out onto one task)
    val banded = bandedPairSide(bandedKeys(sets, numHashes, bands), bucketCap)

    val cand = banded.as("x")
      .join(
        banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()

    verifyJaccard(cand, sets, threshold, resolveVerifyBroadcast(sets, verifyBroadcast))
  }

  /** Sorted-distinct word-shingle hash sets per document.
    *
    * Shingles carried as longs end-to-end: each TOKEN is xxhash64'd once,
    * a shingle's identity is the chained xxhash64 of its tokens' hashes —
    * 8 bytes per shingle through every shuffle, collisions ~2^-64, so the
    * exact-Jaccard verify on these longs equals the string-shingle
    * Jaccard. The whole set (token hashes, shingle combine, sort, dedup)
    * is ONE native per-row pass ([[graft.functions.WordShingleHashes]]);
    * sorted output feeds the two-pointer graft_isect_size verify directly.
    * Deliberately persisted (Spark-ML-style): the DAG reads the sets
    * several times (signature path + both verify sides); without a persist
    * the shingle computation re-runs each time (d2: 7.2s -> 2.7s at
    * sf0.1). Never unpersisted here — the returned frame is lazy, so the
    * operator cannot know when its consumer is done; memory blocks are
    * LRU-evicted but DISK blocks live until session end. Long-lived
    * sessions calling this repeatedly should spark.catalog.clearCache()
    * between batches.
    */
  private def shingleSets(
      docs: DataFrame, textCol: String, idCol: String, shingleWords: Int,
      spread: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // the empties filter sits ABOVE the persist: below it, Catalyst pushes
    // size(sh) > 0 under the projection by substituting sh's definition,
    // re-evaluating the whole shingle pass per row (verified in the plan)
    // `spread = false` for tiny per-micro-batch deltas (the st11 absorb
    // loop): fanning a handful of rows to the session width and then
    // coalescing them back for the stored write paid two exchanges per
    // commit for nothing (r21 driver: st11 3.15 s → 4.86 s).
    (if (spread) Similarity.spreadNarrowScan(docs) else docs)
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        expr(s"graft_word_shingles($textCol, $shingleWords)").as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .filter(size(col("sh")) > 0)
  }

  /** LSH band keys per document: full MinHash signature in one map-only
    * native pass ([[graft.functions.MinHashSignature]], same affine family
    * term for term — the declarative form exploded every (doc, shingle)
    * pair and ran 64 simultaneous min aggregates through a shuffle), split
    * into `bands` bucket keys. This relation IS the dedup index: at a real
    * deployment it is computed once per document and STORED, so a new
    * batch joins against it instead of re-shingling the corpus (see
    * [[incrementalMinHashNearDup]]).
    */
  private def bandedKeys(sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val sig = sets.select(col("id"), expr(s"graft_minhash(sh, $numHashes)").as("m"))
    val bandCols = (0 until bands).map { j =>
      struct(
        lit(j).as("band"),
        concat_ws("_", (0 until rows).map(r => expr(s"m[${j * rows + r}]")): _*).as("key"))
    }
    sig
      .select(col("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** Incremental near-dedup: match a DELTA of newly arrived documents
    * against an already-ingested corpus — and against itself — without an
    * all-corpus self-join. This is the daily-ingest shape at 100 TB: the
    * corpus's band keys ([[bandedKeys]]) are the stored dedup INDEX, so a
    * run's cost scales with |delta| (delta shingling + two equi-joins
    * against index buckets), not |corpus|²; corpus documents never pair
    * with each other (they were deduped when they arrived).
    *
    * Output matches [[minHashNearDup]]'s orientation (a_id < b_id,
    * jaccard ≥ threshold), restricted to pairs with at least one delta
    * side. Corpus and delta ids must be disjoint (they are different
    * ingestion generations of one id space).
    */
  def incrementalMinHashNearDup(
      corpus: DataFrame,
      delta: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      threshold: Double = 0.6,
      shingleWords: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyBroadcast: Option[Boolean] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val corpusSets = shingleSets(corpus, textCol, idCol, shingleWords)
    incrementalCore(
      corpusSets, bandedKeys(corpusSets, numHashes, bands),
      delta, textCol, idCol, threshold, shingleWords, numHashes, bands,
      verifyBroadcast)
  }

  /** PERSIST the dedup index of an ingested corpus: the per-doc band keys
    * (the LSH buckets new batches probe) plus the sorted shingle-hash sets
    * (what the exact-Jaccard verify stage needs) as two parquet relations
    * under `path`. Written once when a generation is ingested; every later
    * [[incrementalFromIndex]] run reads these instead of re-shingling the
    * corpus — the difference between an O(delta) and an O(corpus) daily
    * ingest at 100 TB. Band keys are written partitioned-friendly (plain
    * columnar), sets carry 8-byte shingle hashes, not strings.
    */
  def writeIndex(
      corpus: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleWords: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(graft.core.IndexOptimize.foldedBatches(path).isEmpty,
      s"dedup index at $path has OPTIMIZE-folded batches — rebuilding in " +
        "place would duplicate consolidated rows; delete the artifact " +
        "directory first")
    writeIndexBatch(corpus, path, "base", textCol, idCol, shingleWords,
      numHashes, bands, rightsizeFiles = true)
  }

  /** Absorb a delta into a STORED index ([[writeIndex]]) — the end-of-day
    * step of the daily dedup loop. With it, every day is O(delta): dedup
    * the delta against the index ([[incrementalFromIndex]]), then absorb
    * the delta's own relations; the corpus text is never re-read on any day
    * after day one.
    *
    * `batchId` names the ingest batch and makes the absorb IDEMPOTENT: each
    * batch lands in its own `batch=<id>` partition with mode Overwrite, so
    * a retried append (crash between the write and the success record)
    * replaces its own partition instead of duplicating rows — duplicate
    * index entries would otherwise multiply every downstream pair and emit
    * jaccard-1.0 self-pairs. Distinct days must use distinct batch ids.
    */
  def appendToIndex(
      index: String,
      delta: DataFrame,
      batchId: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleWords: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(batchId != "base", "batch id 'base' is reserved for writeIndex")
    graft.core.IndexOptimize.absorbBatch(
        delta.sparkSession, index, batchId, IndexRels) {
      writeIndexBatch(delta, index, batchId, textCol, idCol, shingleWords,
        numHashes, bands, rightsizeFiles = false)
    }
  }

  /** The stored index's batch-partitioned relations (absorb and OPTIMIZE). */
  private val IndexRels = Seq("sets", "bands")

  /** DELETE documents from the stored dedup index ([[graft.core
    * .Tombstones]]): a taken-down doc must stop surfacing as a near-dup
    * pair endpoint immediately. O(|takedown list|) now, physical at the
    * next [[optimizeIndex]].
    */
  def deleteFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      index: String,
      ids: DataFrame,
      idCol: String = "doc_id",
      batchId: String = "takedown"): Unit =
    graft.core.Tombstones.add(spark, index, ids, idCol, batchId)

  /** OPTIMIZE the stored dedup index: fold the accumulated `batch=*`
    * absorb partitions of sets/bands into one consolidated partition each
    * ([[graft.core.IndexOptimize]]), dropping tombstoned docs in the same
    * pass (the delete absorb). Physical re-layout only otherwise — the
    * incremental dedup reads the union of rows and never the batch
    * column, so results are value-identical (spec-pinned).
    */
  def optimizeIndex(
      spark: org.apache.spark.sql.SparkSession,
      index: String,
      targetBytes: Long = graft.core.Compaction.DefaultTargetBytes)
      : Seq[graft.core.IndexOptimize.RelOptStats] =
    graft.core.IndexOptimize.optimize(
      spark, index, IndexRels, targetBytes,
      tombstoneIdCol = Some("id"))

  /** Shared index-batch writer: sets/bands land under `batch=<id>` hive
    * partitions (Overwrite scoped to that partition dir), so both the base
    * build and every delta absorb are exactly-once per batch id.
    */
  private def writeIndexBatch(
      docs: DataFrame,
      path: String,
      batchId: String,
      textCol: String,
      idCol: String,
      shingleWords: Int,
      numHashes: Int,
      bands: Int,
      rightsizeFiles: Boolean): Unit = {
    val sets = shingleSets(docs, textCol, idCol, shingleWords,
      spread = rightsizeFiles)
    // rebalance before the stored-relation writes (guide §6 file sizing):
    // a full-width write fans into one near-empty file per task, and every
    // incremental run re-lists and re-opens them all; AQE coalesces to
    // right-sized files and still splits genuinely large batches at the
    // advisory size. Applied to the BASE build only — a streamed absorb
    // delta is already narrow (no spread), its commit inherits the
    // micro-batch's own small task count, and right-sizing the
    // accumulated batches belongs to the OPTIMIZE fold
    // ([[optimizeIndex]]), not to every commit (r21 driver run: the
    // per-micro-batch rebalance cost st11 3.15 s → 4.86 s while d9's
    // read side was already served by the fold).
    def shaped(df: DataFrame): DataFrame =
      if (rightsizeFiles) df.hint("rebalance") else df
    shaped(sets.select("id", "sh")).write.mode("overwrite")
      .parquet(s"$path/sets/batch=$batchId")
    shaped(bandedKeys(sets, numHashes, bands))
      .write.mode("overwrite")
      .parquet(s"$path/bands/batch=$batchId")
  }

  /** Incremental near-dedup against a STORED index ([[writeIndex]]): the
    * corpus side is read back as (band keys, shingle sets) parquet — the
    * corpus text is never touched, so a daily run's cost is delta shingling
    * plus equi-joins against index buckets. Same output contract as
    * [[incrementalMinHashNearDup]] (which recomputes the index inline; the
    * two are result-identical, spec-pinned).
    */
  def incrementalFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      delta: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      threshold: Double = 0.6,
      shingleWords: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyBroadcast: Option[Boolean] = None): DataFrame =
    incrementalCore(
      // project away the batch partition column the absorb layout adds;
      // tombstoned (taken-down) docs are masked out of BOTH relations, so
      // a deleted doc can neither seed a candidate pair nor survive verify
      graft.core.Tombstones.filterLive(
        spark.read.parquet(s"$indexPath/sets").select("id", "sh"),
        indexPath, "id"),
      graft.core.Tombstones.filterLive(
        spark.read.parquet(s"$indexPath/bands").select("id", "band", "key"),
        indexPath, "id"),
      delta, textCol, idCol, threshold, shingleWords, numHashes, bands,
      verifyBroadcast)

  /** Near-dup pairs AMONG a given id set, served ENTIRELY from the stored
    * index (no document text): band-bucket candidates restricted to `ids`
    * on both sides, then the exact-Jaccard verify against the stored
    * shingle sets. Equals [[minHashNearDup]] over those documents (same
    * persisted bands/sets relations; pair derivation is per-pair
    * independent, so restricting the id set restricts nothing else).
    * Tombstoned docs mask out of both relations. The
    * [[graft.operators.ClusterIndex]] delete path uses this to re-cluster
    * a taken-down component's survivors — O(|ids| neighborhood), never a
    * corpus scan.
    */
  def pairsAmongFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      ids: DataFrame,
      idCol: String = "id",
      threshold: Double = 0.6,
      verifyBroadcast: Option[Boolean] = None): DataFrame = {
    val idsD = ids.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint(true)
    val bandsR = graft.core.Tombstones.filterLive(
      spark.read.parquet(s"$indexPath/bands").select("id", "band", "key"),
      indexPath, "id")
      .join(broadcast(idsD), Seq("id"))
    val cand = bandsR.as("x")
      .join(bandsR.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    val sets = graft.core.Tombstones.filterLive(
      spark.read.parquet(s"$indexPath/sets").select("id", "sh"),
      indexPath, "id")
      .join(broadcast(idsD), Seq("id"))
    verifyJaccard(cand, sets, threshold,
      resolveVerifyBroadcast(sets, verifyBroadcast))
  }

  /** Shared incremental-dedup core: delta×corpus + delta×delta candidate
    * generation over band-key equi-joins, then exact-Jaccard verify. The
    * corpus arrives as its INDEX relations (computed or read back); only
    * the delta is shingled here.
    */
  private def incrementalCore(
      corpusSets: DataFrame,
      corpusBands: DataFrame,
      delta: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleWords: Int,
      numHashes: Int,
      bands: Int,
      verifyBroadcast: Option[Boolean]): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val deltaSets = shingleSets(delta, textCol, idCol, shingleWords)
    val deltaBands = bandedKeys(deltaSets, numHashes, bands)

    // delta × corpus: sides are CONTRACTUALLY disjoint; the id inequality
    // is defense in depth (a delta re-delivering an already-indexed id
    // must not emit a jaccard-1.0 self-pair), then normalize orientation
    val cross = deltaBands.as("x")
      .join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") =!= col("y.id"))
      .select(
        least(col("x.id"), col("y.id")).as("a_id"),
        greatest(col("x.id"), col("y.id")).as("b_id"))
    // delta × delta: the new batch can contain its own near-dups
    val within = deltaBands.as("x")
      .join(deltaBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
    val cand = cross.unionByName(within).distinct()

    val sets = corpusSets.unionByName(deltaSets)
    verifyJaccard(cand, sets, threshold, resolveVerifyBroadcast(sets, verifyBroadcast))
  }

  /** Exact-Jaccard verification of candidate pairs against shingle sets.
    *
    * The shingle arrays are attached to the (a_id, b_id) pairs via BROADCAST
    * joins: the per-doc array crosses the wire once, in the broadcast — never
    * once per pair through a shuffle (measured 2 GB of pair-duplicated array
    * shuffle at sf0.1 without this). At the 100 TB point, where the doc-set
    * side outgrows broadcast, [[resolveVerifyBroadcast]] auto-switches to a
    * shuffle equi-join on id — the pair relation stays id-only either way.
    */
  private def verifyJaccard(
      cand: DataFrame, sets: DataFrame, threshold: Double,
      doBroadcast: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(cand.sparkSession)
    cand
      .join(maybeBroadcast(
        sets.select(col("id").as("a_id"), col("sh").as("sa")), doBroadcast), "a_id")
      .join(maybeBroadcast(
        sets.select(col("id").as("b_id"), col("sh").as("sb")), doBroadcast), "b_id")
      // sets are sorted at build time — linear codegen'd two-pointer scan
      .withColumn("i", expr("graft_isect_size(sa, sb)"))
      .withColumn("jacc", col("i").cast("double") / (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jacc") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jacc"), 6).as("jaccard"))
  }

  /** SimHash document fingerprint: 64-bit signature as a bitstring.
    *
    * bit j = sign of Σ over distinct tokens of (±1 from bit j of md5(token)).
    * Near-dup docs differ in few tokens ⇒ small Hamming distance; pairing at
    * scale reuses the same band-bucket join as [[minHashNearDup]] over
    * bitstring slices. The fingerprint itself is the oracle-gated output —
    * engine-independent by construction (md5 + integer ops only).
    */
  def simHash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // Whole fingerprint in one map-only native pass (tokens split, deduped,
    // digested and bit-accumulated per row — see
    // [[graft.functions.SimHash64]]). The declarative form shuffled 64 rows
    // per (doc, token) — ~48M at sf0.1 — through two aggregations to build
    // sums that fit in one 64-slot array per document. Per-bit integer sums
    // are order-insensitive, so the result is bit-identical to the SQL
    // formulation (pinned in DedupSpec) and the DuckDB oracle.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Similarity.spreadNarrowScan(docs)
      // NULL text produces no fingerprint — same cardinality as the
      // explode-based formulation (and the oracle), which dropped such rows
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        expr(s"graft_simhash64($textCol)").as("simhash"))
  }

  /** SimHash near-dup pairing: pairs of documents whose 64-bit
    * [[simHash]] fingerprints differ in at most `maxHamming` bits.
    *
    * Candidate generation uses PIGEONHOLE banding, not probabilistic LSH:
    * the fingerprint is cut into `bands` contiguous slices, and since
    * `bands > maxHamming`, any pair within the Hamming budget MUST agree
    * exactly on at least one whole slice — the bucket join is therefore
    * provably complete (recall = 1 by construction, no S-curve), and the
    * exact Hamming verify on candidates makes the result identical to the
    * all-pairs answer. This is the classic Charikar/Manku web-dedup shape.
    */
  def simHashNearDup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxHamming: Int = 4,
      bands: Int = 5,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    // single downstream consumer since the verify was fused into the band
    // join — no persist: the fingerprint pass streams straight into banding
    hammingNearDup(simHash(docs, textCol, idCol), maxHamming, bands, bucketCap)
  }

  /** The `bands` equal-width slices of a 64-char fingerprint bitstring,
    * as (band, key) struct columns over a `simhash` column — the shared
    * candidate-generation geometry of d6/d12 ([[hammingNearDup]]) and
    * d14/d15 ([[frameSeqNearDup]]). Zero-width trailing slices (possible
    * when `bands` does not divide 64, e.g. bands = 9 -> width 8 covers all
    * bits in 8 bands) would be one global bucket containing EVERY row —
    * they are dropped, and pigeonhole completeness is re-checked against
    * the NON-EMPTY band count: <= maxHamming mismatching bits cannot
    * touch every one of > maxHamming disjoint non-empty slices.
    */
  private def fingerprintBandCols(
      bands: Int, maxHamming: Int): Seq[org.apache.spark.sql.Column] = {
    val width = (64 + bands - 1) / bands
    val cols = (0 until bands).flatMap { j =>
      val start = j * width + 1
      val len = math.min(width, 64 - j * width)
      if (len <= 0) None
      else Some(struct(lit(j).as("band"),
        expr(s"substring(simhash, $start, $len)").as("key")))
    }
    require(maxHamming < cols.length,
      s"only ${cols.length} non-empty bands cover the 64 bits - " +
        "pigeonhole completeness needs maxHamming < that")
    cols
  }

  /** The shared pigeonhole Hamming-pairing core: `fp` is any
    * `(doc_id, simhash)` frame whose `simhash` is a 64-char bitstring —
    * D6's text SimHash and D12's image dHash both land here. Pairs within
    * `maxHamming` bits, provably complete per the [[simHashNearDup]]
    * banding argument.
    */
  private[operators] def hammingNearDup(
      fp: DataFrame,
      maxHamming: Int,
      bands: Int,
      bucketCap: Int): DataFrame = {
    val bandCols = fingerprintBandCols(bands, maxHamming)
    // The whole verify payload is the fingerprint itself — 4×16-bit words,
    // 32 bytes — so it RIDES the banded rows instead of joining back after
    // candidate generation: hamming = Σ bit_count(xor) evaluates inline in
    // the band self-join's codegen, the ≤maxHamming filter runs BEFORE the
    // pair distinct (fewer rows deduped), and the two post-hoc verify joins
    // of the unfused form (and their broadcast-vs-shuffle gate) disappear
    // entirely. This is the special case of the verify-gate design where
    // the verification payload is O(1) per row — d2/d4 carry whole shingle
    // sets and still need [[resolveVerifyBroadcast]].
    // Hot-bucket guard: pigeonhole completeness (recall = 1) holds exactly
    // for buckets at or under bucketCap — the common case by orders of
    // magnitude. A bucket OVER the cap is, by construction, a >cap-strong
    // cluster of fingerprint-slice-identical docs; there the uncapped
    // output itself is quadratic (every pair passes the hamming gate), so
    // the guard bounds output volume as much as join cost, and cross-band
    // salt independence keeps such a cluster connected for the downstream
    // component/survivor step (see [[capBuckets]]).
    // capped banding materialized once + explicit row-derived width for
    // the pair self-join ([[bandedPairSide]]) — the banded relation is
    // tiny in BYTES, so byte-based sizing would serialize the quadratic
    // per-bucket pair fan-out onto one task
    val banded = bandedPairSide(fp
      .select(
        col("doc_id").as("id") +:
          (0 until 4).map(j =>
            expr(s"CAST(conv(substring(simhash, ${j * 16 + 1}, 16), 2, 10) AS BIGINT)")
              .as(s"w$j")) :+
          explode(array(bandCols: _*)).as("b"): _*)
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key"),
        col("w0"), col("w1"), col("w2"), col("w3")), bucketCap)
    val hammingExpr = (0 until 4)
      .map(j => s"bit_count(x.w$j ^ y.w$j)").mkString("CAST(", " + ", " AS BIGINT)")
    banded.as("x")
      .join(
        banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .withColumn("hamming", expr(hammingExpr))
      .filter(col("hamming") <= maxHamming)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"), col("hamming"))
      .distinct()
  }

  /** D12: perceptual-hash IMAGE near-dup — the multimodal rung of the dedup
    * ladder. Each image decodes (real JDK codec,
    * [[graft.operators.Multimodal.dHash]]) to a 64-bit DIFFERENCE HASH
    * (adjacent-brightness signs on a 9×8 nearest-neighbor grid): re-encoded,
    * resized, or slightly-edited copies land within a few bits, unrelated
    * images ~32 apart — then pairs flow through the same provably-complete
    * pigeonhole banding + fused Hamming verify as D6's text SimHash
    * ([[hammingNearDup]]). Undecodable rows quarantine out (null hash), as
    * in every m-series decode.
    *
    * At 100 TB: decode + hash is map-only where the blobs live (the only
    * per-row codec work), and the pair search shuffles 64-BIT FINGERPRINTS,
    * never image bytes — banding and `capBuckets` bound the self-join
    * exactly as for text.
    */
  def imageNearDup(
      media: DataFrame,
      contentCol: String = "content",
      idCol: String = "media_id",
      maxHamming: Int = 4,
      bands: Int = 5,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val fp = media
      .select(col(idCol).as("doc_id"),
        graft.operators.Multimodal.dHash(col(contentCol)).as("simhash"))
      .filter(col("simhash").isNotNull)
    hammingNearDup(fp, maxHamming, bands, bucketCap)
      .withColumnRenamed("a_id", "a_media_id")
      .withColumnRenamed("b_id", "b_media_id")
  }

  /** D14: VIDEO near-dup — sequence-level alignment over per-frame
    * perceptual hashes, the temporal rung above D12. A re-cut repost (same
    * footage, trimmed a frame, re-encoded with small defects) shares no
    * byte-level content, but its frame dHashes are a SHIFTED, slightly
    * noisy copy of the source's: detect it by (1) hashing every frame
    * (map-only, real JDK decode → [[graft.operators.Multimodal.dHash]]),
    * (2) generating candidate VIDEO pairs through the same provably
    * complete pigeonhole banding as D6/D12 — a qualifying pair must have
    * ≥ `minMatched` aligned frame pairs within `maxHamming` bits, and each
    * such frame pair must agree exactly on one of the `bands` hash slices,
    * so any qualifying pair surfaces in some band bucket (recall = 1) —
    * then (3) verifying by exact temporal alignment: for each offset in
    * `[-maxOffset, maxOffset]`, count aligned frame pairs within
    * `maxHamming`; keep pairs whose best offset matches ≥ `minMatched`
    * frames (ties → smallest offset).
    *
    * At 100 TB: decode + hash stays where the blobs live; only 64-bit
    * fingerprints shuffle. The verify joins candidate pairs to per-video
    * hash SEQUENCES (a few longs per video, never frame bytes), and the
    * alignment scoring is pure codegen'd HOFs (`transform`/`filter` +
    * `bit_count(xor)`) over those bounded arrays — O(offsets·frames) per
    * candidate, no window, no cross join.
    */
  def videoNearDup(
      frames: DataFrame,
      contentCol: String = "content",
      videoCol: String = "video_id",
      frameCol: String = "frame_idx",
      maxHamming: Int = 4,
      bands: Int = 5,
      maxOffset: Int = 2,
      minMatched: Int = 3,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    frameSeqNearDup(
      frames.select(col(videoCol).as("vid"), col(frameCol).as("f"),
        graft.operators.Multimodal.dHash(col(contentCol)).as("simhash")),
      maxHamming, bands, maxOffset, minMatched, bucketCap)
      .select(col("a").as("a_video_id"), col("b").as("b_video_id"),
        col("best_offset"), col("matched_frames"))

  /** D15: AUDIO near-dup — the d14 machinery on the audio axis. Each WAV
    * blob decodes through the REAL JDK codec into per-frame perceptual
    * hashes ([[graft.operators.Multimodal.audioFrameHashes]]: 64 window
    * sums compared circularly — robust to gain-preserving edits the way
    * dHash is to resizes), then the SAME pigeonhole banding + temporal
    * alignment core as d14 finds trimmed/perturbed reposts. Undecodable
    * blobs quarantine (null hash array → no frames). Scale shape is d14's:
    * decode stays with the blobs, only 64-bit fingerprints shuffle,
    * alignment is one codegen'd integer kernel per candidate pair.
    */
  def audioNearDup(
      media: DataFrame,
      contentCol: String = "content",
      audioCol: String = "audio_id",
      windows: Int = 64,
      wsamples: Int = 4,
      maxHamming: Int = 4,
      bands: Int = 5,
      maxOffset: Int = 2,
      minMatched: Int = 4,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    frameSeqNearDup(
      media.select(col(audioCol).as("vid"),
        posexplode(graft.operators.Multimodal.audioFrameHashes(
          col(contentCol), lit(windows), lit(wsamples))).as(Seq("f", "simhash"))),
      maxHamming, bands, maxOffset, minMatched, bucketCap)
      .select(col("a").as("a_audio_id"), col("b").as("b_audio_id"),
        col("best_offset"), col("matched_frames"))

  /** Shared d14/d15 core: candidate pairs by pigeonhole banding over
    * per-frame 64-bit hashes, then exact temporal-alignment verify with
    * the native [[graft.functions.AlignSeqScore]] kernel. Input is the
    * already-hashed (vid, f, simhash-bitstring) frame table; output
    * (a, b, best_offset, matched_frames).
    */
  private def frameSeqNearDup(
      hashed: DataFrame,
      maxHamming: Int,
      bands: Int,
      maxOffset: Int,
      minMatched: Int,
      bucketCap: Int): DataFrame = {
    val bandCols = fingerprintBandCols(bands, maxHamming)
    // QUARANTINE is whole-id: a sequence with a decode hole would be
    // COMPACTED (frame 3 sliding into position 2), so alignment offsets
    // would mix real temporal shifts with hole-induced ones — matched
    // counts silently wrong. An id with any undecodable frame therefore
    // drops entirely (the audio path's whole-blob quarantine, applied to
    // per-frame media), rather than pretending its gapless prefix is the
    // sequence.
    // one decode+hash pass per frame, materialized once (eager
    // localCheckpoint — the capBuckets convention): the quarantine probe,
    // the banding leg and the sequence build all read it, the JDK codec
    // UDF is the dominant per-row cost, and checkpoint blocks release via
    // the ContextCleaner when the frame dies instead of pinning executor
    // storage the way an unpaired persist() would in a long-lived session
    val marked = hashed.localCheckpoint(true)
    val bad = marked.filter(col("simhash").isNull).select("vid").distinct()
    val fp = marked
      .join(bad, Seq("vid"), "left_anti")
      .select(
        col("vid") +: col("f") +: col("simhash") +:
          (0 until 4).map(j =>
            expr(s"CAST(conv(substring(simhash, ${j * 16 + 1}, 16), 2, 10) AS BIGINT)")
              .as(s"w$j")): _*)
    // candidate VIDEO pairs: any cross-video frame pair sharing a band
    // bucket, prefiltered by the frame-level Hamming gate (a qualifying
    // pair has at least one such frame pair at SOME alignment, so the
    // video-pair set is a complete superset of the qualifying pairs)
    // capped banding materialized once + explicit row-derived width for
    // the pair self-join ([[bandedPairSide]] — see hammingNearDup)
    val banded = bandedPairSide(fp
      .select(col("vid").as("id"), col("w0"), col("w1"), col("w2"), col("w3"),
        explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.key").as("key"),
        col("w0"), col("w1"), col("w2"), col("w3")), bucketCap)
    val hammingExpr = (0 until 4)
      .map(j => s"bit_count(x.w$j ^ y.w$j)").mkString(" + ")
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .filter(expr(s"$hammingExpr <= $maxHamming"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    // per-video hash sequence, frame order, FLATTENED to array<bigint>
    // (4 words per frame) — the shape the native alignment kernel scans;
    // sort_array orders by the leading struct field (f)
    val seqs = fp.groupBy("vid").agg(
      expr("flatten(transform(sort_array(collect_list(struct(f, w0, w1, w2, w3))), " +
        "e -> array(e.w0, e.w1, e.w2, e.w3)))").as("fs"))
    // verify: the alignment scoring runs in [[graft.functions.AlignSeqScore]]
    // — one codegen'd integer loop per candidate pair. The declarative
    // transform/filter HOF form was this operator's bottleneck (7.8 s of
    // 8.6 at sf0.1): HOF lambdas evaluate interpreted, per offset × frame
    // × word, per pair.
    graft.functions.GraftFunctions.register(hashed.sparkSession)
    cand
      .join(seqs.select(col("vid").as("a"), col("fs").as("afs")), "a")
      .join(seqs.select(col("vid").as("b"), col("fs").as("bfs")), "b")
      .withColumn("al",
        expr(s"graft_align_score(afs, bfs, 4, $maxOffset, $maxHamming)"))
      .withColumn("matched_frames", expr("CAST(element_at(al, 2) AS BIGINT)"))
      .filter(col("matched_frames") >= minMatched)
      .withColumn("best_offset", expr("CAST(element_at(al, 1) AS BIGINT)"))
      .select(col("a"), col("b"), col("best_offset"), col("matched_frames"))
  }

  /** Character-n-gram Jaccard near-dup within explicit blocks (e.g. same
    * (lang, source)): blocking is the classic scale move when a natural
    * partition key exists — the self-join is an equi-join on the block key
    * and each block's pair count is bounded by its own size, never by n.
    *
    * The n-gram sets are carried through the pair join as xxhash64 longs, not
    * strings: ~3× fewer shuffled bytes and long-equality intersects instead
    * of string hashing. 64-bit collisions across a block's whole shingle
    * vocabulary are ~10⁻¹², so the hashed Jaccard equals the string Jaccard.
    */
  def blockedNgramJaccard(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      blockCols: Seq[String] = Seq("lang", "source"),
      ngram: Int = 5,
      threshold: Double = 0.5,
      verifyBroadcast: Option[Boolean] = None): DataFrame = {
    // fused shingle+hash: one HOF pass, no intermediate string array
    // one native per-row pass ([[graft.functions.NgramHashes]]): hash every
    // gram (zero-alloc for ASCII), sort + dedup on primitive longs — the
    // declarative transform ran its lambda per gram through the interpreted
    // HOF path with a substring allocation each. Sorted output feeds the
    // two-pointer verify scan directly.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // persisted for the same reason as in minHashNearDup: read by the slim
    // pair join and both verify broadcasts; the empties filter sits ABOVE
    // the persist so Catalyst can't substitute sh's definition into it and
    // re-run the gram pass per row
    val sets = Similarity.spreadNarrowScan(docs)
      .filter(col(textCol).isNotNull)
      .select(
        (col(idCol).as("id") +: blockCols.map(col)) :+
          expr(s"graft_ngram_hashes($textCol, $ngram)").as("sh"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .filter(size(col("sh")) > 0)
    // Pair generation carries ONLY (block, id, |sh|): the heavy arrays never
    // ride the pair join (one copy per pair = the dominant shuffle cost
    // otherwise). Size-ratio prefilter: J(A,B) <= min/max sizes, so pairs
    // whose size ratio is below the threshold can't qualify.
    val slim = sets.select(
      (col("id") +: blockCols.map(col)) :+ size(col("sh")).as("n"): _*)
    val joinCond = blockCols
      .map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _) && col("x.id") < col("y.id")
    val pairs = slim.as("x").join(slim.as("y"), joinCond)
      .filter(least(col("x.n"), col("y.n")).cast("double") >=
        lit(threshold) * greatest(col("x.n"), col("y.n")))
      .select(
        blockCols.map(c => col(s"x.$c")) ++
          Seq(col("x.id").as("a_id"), col("y.id").as("b_id")): _*)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val doBroadcast = resolveVerifyBroadcast(sets, verifyBroadcast)
    pairs
      .join(maybeBroadcast(
        sets.select(col("id").as("a_id"), col("sh").as("sa")), doBroadcast), "a_id")
      .join(maybeBroadcast(
        sets.select(col("id").as("b_id"), col("sh").as("sb")), doBroadcast), "b_id")
      // sets sorted at build — linear codegen'd two-pointer scan per pair
      .withColumn("i", expr("graft_isect_size(sa, sb)"))
      .withColumn("jacc",
        col("i").cast("double") / (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jacc") >= threshold)
      .select(
        blockCols.map(col) ++
          Seq(col("a_id"), col("b_id"), round(col("jacc"), 6).as("jaccard")): _*)
  }

  /** Deterministic ±1 hyperplane matrix: sign(bit, dim) = +1 iff the first
    * hex digit of md5("bit_dim") is < '8'. Computed once on the driver —
    * identical on every run and engine; see
    * [[graft.functions.HyperplaneSums.signs]] (row-major flat layout).
    */
  private[operators] def hyperplaneSigns(bits: Int, dim: Int): Array[Array[Double]] = {
    val flat = graft.functions.HyperplaneSums.signs(bits, dim)
    Array.tabulate(bits, dim)((b, d) => flat(b * dim + d))
  }

  /** Random-hyperplane band keys for a (id, v: array<double>) relation: one
    * row per (id, band) with the band's sign bits as a bitstring key.
    *
    * All bits·dim projections run in ONE codegen'd pass per row via the
    * native [[graft.functions.HyperplaneSums]] expression — map-only, no
    * shuffle. (The declarative posexplode + broadcast-sign-join + groupBy
    * partial-sum formulation materialized n·dim·bits rows — ~46M at sf0.1 —
    * through an exchange before collapsing them; the giant unrolled ±term
    * projection alternative blows the JVM method-size limit and falls out
    * of codegen, measured 2.5× slower.) Per-bit sums are floor-quantized
    * integers, exactly associative — every run, engine, and the DuckDB
    * oracle compute identical sign bits in any accumulation order. Band
    * keys are assembled per row with a cheap HOF over the 72-element sums
    * array, then one posexplode emits (id, band, key) — n·bands rows, not
    * n·dim·bits. Shared by [[embeddingNearDup]] and
    * [[Similarity.annTopKCosine]].
    */
  private[operators] def signBands(
      v: DataFrame, bits: Int, bands: Int, dim: Int): DataFrame = {
    require(bits % bands == 0, "bits must be divisible by bands")
    val rows = bits / bands
    graft.functions.GraftFunctions.register(v.sparkSession)
    v
      // empty/NULL vectors carry no signature — excluded from banding
      // (the SQL sum-of-no-terms is NULL where the native loop yields 0;
      // neither is a meaningful bucket, so neither engine sees such rows)
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .select(col("id"), expr(s"graft_hp_sums(v, $bits, $dim)").as("sums"))
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
            array_join(transform(sequence(0, ${rows - 1}),
              i -> IF(sums[b * $rows + i] >= 0L, '1', '0')), ''))"""))
        .as(Seq("band", "key")))
  }

  /** Embedding near-dedup: random-hyperplane (sign) LSH for candidates, exact
    * cosine verification on candidates only.
    *
    * Hyperplanes are ±1 vectors derived deterministically from md5(bit, dim)
    * ([[hyperplaneSigns]]) — no RNG state to ship to executors, same planes
    * on every run; bits computed by the shared [[signBands]] (broadcast
    * join + partial sum — see its doc for why). Defaults (72 bits = 6
    * bands × 12): a cos ≥ 0.99 pair misses every band with probability
    * < 10⁻⁸, while 4096 buckets/band keep expected candidate volume
    * near-linear in n.
    *
    * The input is expected as (idCol, array<double> vecCol); see
    * [[withPerturbedCopy]] for the self-join test fixture.
    */
  def embeddingNearDup(
      vecs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "vec",
      threshold: Double = 0.99,
      bits: Int = 72,
      bands: Int = 6,
      dim: Int = 64,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    // norm attached ONCE per vector (the Similarity.withNorm discipline —
    // same expression over the same doubles, `cos` bit-identical): the
    // verify below otherwise recomputes both norms per candidate pair
    val v = Similarity.spreadNarrowScan(vecs)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nv", expr("sqrt(graft_dot(v, v))"))

    // capped banding materialized once + explicit row-derived width for
    // the pair self-join ([[bandedPairSide]] — see minHashNearDup)
    val banded = bandedPairSide(
      signBands(v.select("id", "v"), bits, bands, dim), bucketCap)

    val cand = banded.as("x")
      .join(
        banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()

    cand
      .join(v.select(col("id").as("a_id"), col("v").as("va"),
        col("nv").as("na")), "a_id")
      .join(v.select(col("id").as("b_id"), col("v").as("vb"),
        col("nv").as("nb")), "b_id")
      // native codegen'd dot product; same fold order as the HOF form
      .withColumn("dot", expr("graft_dot(va, vb)"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
  }

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better" — the ExactSubstr operator, rendered
    * relationally): remove every token covered by a `window`-token span
    * that occurs VERBATIM more than once in the corpus. Unlike D1 (whole
    * doc) and D10 (whole paragraph), this strips duplicated RUNS wherever
    * they hide inside otherwise-unique documents — templated disclaimers,
    * quoted passages, syndicated fragments — which is why the paper found
    * it removes more duplication than any document-level method.
    *
    * Relational rendering (vs the paper's suffix array, which is a
    * single-machine construction): window hashes travel as md5 keys with
    * start positions — a MAP-ONLY index fold per doc, x19's trick, so the
    * corpus never self-joins — duplicated hashes fall out of one groupBy
    * (zipfian head collapses map-side), covered positions explode only
    * from duplicated windows, and the cleaned text reassembles with d10's
    * ordered-struct trick. Shapes: two groupBys + one equi-join + one
    * anti-join, all key-partitioned; nothing quadratic at any scale.
    *
    * Docs shorter than `window` tokens carry no spans and pass through
    * unchanged. Returns (id, clean_md5, n_tokens, n_removed) — the cleaned
    * text is gated by hash, like d10.
    */
  def exactSubstringDedup(
      docs: DataFrame,
      window: Int = 13,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("a"))
      .localCheckpoint(true) // feeds windows, positions, and sizes
    val wins = toks.filter(size(col("a")) >= window)
      .select(col(idCol), explode(expr(
        s"""transform(sequence(1, size(a) - ${window - 1}),
             i -> struct(i AS i, md5(array_join(slice(a, i, $window), ' ')) AS h))"""))
        .as("w"))
      .select(col(idCol), col("w.i").as("i"), col("w.h").as("h"))
    val dupH = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val covered = wins.join(dupH, "h")
      .select(col(idCol), explode(expr(s"sequence(i, i + ${window - 1})")).as("p"))
      .distinct()
    val kept = toks
      .select(col(idCol), posexplode(col("a")).as(Seq("p0", "tok")))
      .withColumn("p", col("p0") + 1)
      .join(covered, Seq(idCol, "p"), "left_anti")
    val reassembled = kept.groupBy(col(idCol)).agg(
      expr("array_join(transform(array_sort(collect_list(struct(p, tok))), x -> x.tok), ' ')")
        .as("clean_text"),
      count(lit(1)).as("n_kept"))
    toks.select(col(idCol), size(col("a")).cast("long").as("n_tokens"))
      .join(reassembled, Seq(idCol), "left")
      .select(
        col(idCol),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Semantic dedup over an embedding column — the SemDeDup shape (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): k-means-cluster the embeddings, compare
    * pairs ONLY within a cluster, and inside each duplicate group keep the
    * member LEAST similar to its cluster centroid (prototypical members are
    * pruned, outliers kept — the opposite keep-rule from [[exact]]'s
    * min-id, and the reason this operator removes *semantic* redundancy
    * templated/boilerplate-heavy corpora are full of).
    *
    * Composition of already-gated machinery, each stage scale-clean:
    *  - the coarse clustering IS [[Similarity.ivfCoarse]] (k3/k8's leg):
    *    sample-trained deterministic Lloyd, map-side broadcast assignment —
    *    the full corpus is scanned once, never shuffled by vector;
    *  - candidate pairs come from a cell equi-self-join, O(Σ cell²) with
    *    cells ~n/nCentroids — `nCentroids` scales with corpus size (the
    *    paper runs ~10⁵ clusters at web scale) and [[capBuckets]] sub-salts
    *    any collapsed cell so one dense semantic cluster cannot go
    *    quadratic (same guard as the LSH band joins);
    *  - exact cosine verify on candidates only (native [[graft_dot]]);
    *  - duplicate groups = [[clusters]] connected components (min id);
    *  - the keep rule ranks on the micro-quantized assignment cosine the
    *    coarse leg already computed — no extra corpus pass.
    *
    * Returns one row per input id: (id, group_id, cos_centroid_micro,
    * is_kept). Singletons keep themselves; a duplicate group keeps exactly
    * its (cos, id)-minimal member.
    */
  def semDedup(
      vecs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "vec",
      threshold: Double = 0.95,
      nCentroids: Int = 32,
      nIter: Int = 2,
      cellCap: Int = DefaultBucketCap): DataFrame = {
    // eager checkpoints: `v` feeds four branches (assignment scan, both
    // pair sides, CC vertices) and `assign` two (candidates + the keep
    // rule's cosine) — left lazy, every branch re-reads and re-derives the
    // whole upstream (the full centroid-assignment pass would run twice)
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    // norm attached ONCE per vector (the Similarity.withNorm discipline):
    // the exact-cosine verify below otherwise recomputes both norms per
    // CANDIDATE PAIR — same expression over the same doubles, so `cos`
    // stays bit-identical
    val v = Similarity.spreadNarrowScan(vecs)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("nv", expr("sqrt(graft_dot(v, v))"))
      .localCheckpoint(true)
    val (assign0, _) = Similarity.ivfCoarse(
      v.select("id", "v"), Seq(0L), nCentroids, 1, nIter)
    val assign = assign0.localCheckpoint(true)
    // cell self-join via the (band, key) shape so capBuckets guards it —
    // spread across an explicit row-derived width (Similarity.pairJoinWidth:
    // the cell relation is tiny in BYTES, so byte-based sizing would
    // serialize the quadratic per-cell pair fan-out onto one task)
    val capped = bandedPairSide(
      assign.select(col("id"), lit(0).as("band"), col("cid").cast("string").as("key")),
      cellCap)
    val cand = capped.as("x")
      .join(
        capped.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
    val dupPairs = cand
      .join(v.select(col("id").as("a_id"), col("v").as("va"),
        col("nv").as("na")), "a_id")
      .join(v.select(col("id").as("b_id"), col("v").as("vb"),
        col("nv").as("nb")), "b_id")
      .withColumn("cos",
        expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"))
    val labels = clusters(v.select("id"), dupPairs)
    val withCos = labels
      .join(
        assign.select(col("id"),
          expr("CAST(floor(cos * 1000000) AS BIGINT)").as("cos_centroid_micro")),
        "id")
    val keep = withCos.groupBy("cluster_id")
      .agg(expr("min_by(id, struct(cos_centroid_micro, id))").as("keep_id"))
    withCos.join(keep, "cluster_id")
      .select(
        col("id"),
        col("cluster_id").as("group_id"),
        col("cos_centroid_micro"),
        (col("id") === col("keep_id")).cast("int").as("is_kept"))
  }

  /** Connected components over near-dup pairs → cluster ids + survivor
    * flags: the step that turns pairwise detection into an actionable
    * dedup (keep one representative per duplicate cluster). Cluster id =
    * the component's minimum id; survivor = the row whose id IS its
    * cluster id. Exact on any topology — the full-reachability semantics
    * the recursive d7 oracle replays.
    *
    * Two paths, one answer:
    *  - `bigint` ids and at most `DriverCcMaxPairs` pairs: exact
    *    driver-side union-find (optimization round 22, the k11 precedent);
    *  - otherwise [[clustersTwoPhase]] — O(log n) star rounds on any
    *    graph, and an `IllegalStateException` rather than unconverged
    *    labels if it cannot reach its fixed point.
    */
  def clusters(
      vertices: DataFrame, // one column: id
      pairs: DataFrame     // columns: a_id, b_id
  ): DataFrame = {
    val idsAreLong = {
      import org.apache.spark.sql.types.LongType
      vertices.schema.fields.exists(f => f.name == "id" && f.dataType == LongType) &&
        pairs.schema.fields.exists(f => f.name == "a_id" && f.dataType == LongType) &&
        pairs.schema.fields.exists(f => f.name == "b_id" && f.dataType == LongType)
    }
    if (!idsAreLong) return clustersTwoPhase(vertices, pairs)
    // a failed gate hands the materialized pairs to the star loop
    val p = pairs.select("a_id", "b_id").localCheckpoint(true)
    if (p.count() > DriverCcMaxPairs) return clustersTwoPhase(vertices, p)
    // The near-dup PAIR set is the small side of this operator — every
    // call site derives it from a capped band join over the vertex set.
    // Collect the pairs, run union-find rooted at the component MINIMUM
    // (union always points the larger root at the smaller, so the final
    // root IS the min label), and label the DISTRIBUTED vertex frame
    // through one broadcast join. Endpoints are ⊆ vertices at every call
    // site (pairs are generated from the vertex set). The corpus-sized
    // vertex frame never moves to the driver.
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    p.collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    val session = vertices.sparkSession
    import session.implicits._
    val mapping = parent.keySet().asScala.iterator
      .map(idv => (idv, find(idv))).toSeq.toDF("id", "__lbl")
    vertices.select("id")
      .join(broadcast(mapping), Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("__lbl"), col("id")).as("cluster_id"),
        (col("id") === coalesce(col("__lbl"), col("id")))
          .cast("int").as("is_survivor"))
  }

  /** Pair-count bound for [[clusters]]' driver-side union-find: 4M pairs
    * ≈ 64 MB of endpoint longs on the driver — the k11/centroid-collect
    * discipline (guide §1.2/§5: parameter-bounded driver state only).
    */
  private val DriverCcMaxPairs = 4000000L

  /** Connected components by ALTERNATING STAR OPERATIONS (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond" — the industrial
    * CC for graphs whose diameter is NOT small): converges in O(log n)
    * rounds on ANY graph, where label propagation needs diameter rounds —
    * a duplicate CHAIN (doc A ≈ B ≈ C ≈ … — common when a template drifts
    * gradually across a crawl) defeats a bounded-round propagation but not
    * this. [[clusters]] falls back to it above its driver gate.
    *
    * Each round rewires the edge set toward rooted stars:
    *  - large-star: every node u computes m = min(Γ(u) ∪ {u}) over its FULL
    *    neighborhood and re-parents its LARGER neighbors to m — emit
    *    (v, m) for v ∈ Γ(u), v > u;
    *  - small-star: every node u re-parents its smaller-or-equal closure —
    *    over S = {v ∈ Γ(u) : v < u} ∪ {u}, emit (v, m) for v ∈ S \ {m}.
    * Both are one groupBy-min + one equi-join on the node id — partial
    * aggregation collapses high-degree neighborhoods map-side, and no step
    * ever materializes a neighborhood list in one task. Fixed point = the
    * edge set is a union of stars (every member points at its component
    * min). Convergence is probed cheaply first — (count, xxhash64-sum) of
    * the edge set, one aggregate job; fingerprint INEQUALITY proves set
    * inequality, so rounds that are still moving pay no join — and only a
    * fingerprint MATCH runs the exact symmetric `exceptAll` confirmation,
    * once, at the end.
    *
    * Same output contract as [[clusters]]: (id, cluster_id, is_survivor),
    * survivor = the component-minimum id; spec-pinned equal to its
    * union-find path on near-dup pair sets, random graphs and a 64-node
    * path.
    */
  def clustersTwoPhase(
      vertices: DataFrame, // one column: id
      pairs: DataFrame,    // columns: a_id, b_id
      maxIter: Int = 50): DataFrame =
    clustersTwoPhaseWithRounds(vertices, pairs, maxIter)._1

  /** [[clustersTwoPhase]] plus the number of large/small-star rounds it ran
    * before reaching the fixed point. The loop is EAGER (each round ends in
    * a fingerprint action), so the count is exact at return time — DedupSpec
    * pins it ≤ ⌈log₂ n⌉ + 2 on the bench fixture, turning the Kiveris
    * round bound from a comment into a regression gate.
    */
  def clustersTwoPhaseWithRounds(
      vertices: DataFrame, // one column: id
      pairs: DataFrame,    // columns: a_id, b_id
      maxIter: Int = 50): (DataFrame, Int) = {
    // canonical parent orientation (u, v): u > v, self-loops dropped
    var edges = pairs
      .filter(col("a_id") =!= col("b_id"))
      .select(
        greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // set fingerprint: (count, XOR of per-edge xxhash64) — XOR is
    // associative/commutative and cannot overflow (the edge frames are
    // `distinct`, so XOR-cancellation of repeats is moot). Inequality
    // PROVES the sets differ (so no exact check is needed while the
    // algorithm is still moving); equality is confirmed exactly below.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edgesFp = fingerprint(edges)
    // Right-size the loop's shuffle width to the measured edge count (known
    // for free from the fingerprint). Every round is 2 checkpointed star
    // rewrites + 1 fingerprint aggregate; at the session's full shuffle
    // width a small edge set pays width × rounds × jobs of pure task
    // scheduling — the dominant cost of the whole operator on near-dup
    // pair sets, whose edge count is orders of magnitude below the corpus.
    // A cloned session (private SQLConf, shared context) carries the
    // narrower width so the caller's conf is never mutated; above the
    // re-bind threshold the loop keeps the caller's width — at 100 TB the
    // edge set is genuinely large and the full width is correct.
    val callerSession = edges.sparkSession
    val loopSession = {
      val cur = callerSession.sessionState.conf.numShufflePartitions
      val target = math.min(cur.toLong, edgesFp._1 / 50000L + 1L).toInt
      if (target < cur && edgesFp._1 <= 2000000L) {
        val ss = callerSession.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", target.toString)
        // re-bind through the checkpointed blocks (row conversion only —
        // cheap by construction in the small-edge-set branch)
        edges = ss.createDataFrame(edges.toDF().rdd, edges.schema)
          .localCheckpoint(true)
        ss
      } else callerSession
    }
    var iter = 0
    var converged = edgesFp._1 == 0L
    while (iter < maxIter && !converged) {
      // large-star over the full (symmetric) neighborhood
      val adj = edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = adj.groupBy("x").agg(min("y").as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      val large = adj.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      // small-star over each node's smaller-neighbor closure (the parent
      // edges alone carry exactly that: (u, v) with v < u)
      val sMins = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(sMins, "u")
        .select(col("u"), col("v"), col("m"))
        // re-parent u itself and every smaller neighbor except the min
        .select(
          explode(array(
            struct(col("u").as("a"), col("m").as("b")),
            struct(col("v").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      val smallFp = fingerprint(small)
      converged = smallFp == edgesFp &&
        small.exceptAll(edges).count() + edges.exceptAll(small).count() == 0L
      edges = small
      edgesFp = smallFp
      iter += 1
    }
    // labels below are only valid AT the fixed point (edge set = union of
    // stars). Exhausting the round budget without converging must be LOUD:
    // emitting labels from a half-rewired edge set silently mis-clusters.
    // The default budget (50 ≫ the O(log n) bound for any feasible vertex
    // count) means this fires only on a genuine bug, not on big data.
    if (!converged) throw new IllegalStateException(
      s"clustersTwoPhase did not reach its fixed point in $maxIter rounds")
    // at the fixed point the edge set is a union of stars: (member, root).
    // Fold back onto the CALLER's session first so the output plan (and the
    // vertices join below) carries the caller's conf, not the loop's.
    val finalEdges =
      if (loopSession eq callerSession) edges
      else callerSession.createDataFrame(edges.toDF().rdd, edges.schema)
    val roots = finalEdges.groupBy(col("u").as("id")).agg(min("v").as("label"))
    val out = vertices.join(roots, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("label"), col("id")).as("cluster_id"),
        (coalesce(col("label"), col("id")) === col("id")).cast("int")
          .as("is_survivor"))
    (out, iter)
  }

  /** Deterministic near-dup fixture: the embeddings table ∪ a slightly
    * perturbed copy (e'[i] = e[i] + 0.01·e[i mod dim + 1], ids offset).
    * The provisioned embeddings are random unit vectors with no planted
    * near-dups (max pair cosine ≈ 0.5 at sf0.01), so the perturbed copy
    * supplies exactly one cos ≈ 0.99995 partner per vector — a measurable
    * recall target for the LSH path, reproducible in any engine.
    */
  def withPerturbedCopy(
      embeddings: DataFrame,
      dim: Int = 64,
      idOffset: Long = 100000L): DataFrame = {
    val base = embeddings.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
    val pert = base.select(
      (col("vec_id") + lit(idOffset)).as("vec_id"),
      expr(s"transform(sequence(1, $dim), i -> element_at(vec, i) + 0.01D * element_at(vec, (i % $dim) + 1))")
        .as("vec"))
    base.unionByName(pert)
  }

  /** Cross-corpus paragraph-level dedup (CCNet/RefinedWeb-style line dedup):
    * a paragraph occurrence survives iff it is the globally FIRST occurrence
    * of that exact paragraph text, ordered by (doc id, position); every
    * later repeat — boilerplate headers, navigation chrome, repeated quotes
    * — is dropped, and each document is re-assembled from its surviving
    * paragraphs in original order.
    *
    * Shape at 100 TB: one explode (map-only), one groupBy on the paragraph
    * hash (the only shuffle that carries paragraph text is this partial-agg
    * min — and it aggregates the PACKED ORDINAL, an 8-byte long, per hash),
    * one equi-join back on the hash, one groupBy on the doc id to
    * re-assemble. Never all-pairs; hot paragraphs (the whole point — a
    * footer repeated a billion times) collapse map-side in the partial min
    * before they shuffle.
    *
    * The occurrence ordinal is packed as `doc_id * 2^20 + position` so the
    * global-first rule is a single integer `min` (exact i64 math in any
    * engine; positions are capped at 2^20 paragraphs per document and ids
    * must stay in [0, 2^43) — both far beyond real corpora, and ENFORCED:
    * an out-of-range row fails the query rather than silently mis-ranking).
    *
    * Output per input document: `n_paras`, `n_kept`, and `cleaned_md5` (md5
    * of the re-joined surviving text; "" when everything was boilerplate —
    * the md5 keeps the gated frame slim while still pinning every byte).
    */
  def paragraphDedup(
      docs: DataFrame,
      sep: String = "\n\n",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val paras = docs.select(
      col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .withColumn("h", md5(col("para")))
      // the bounds the packing depends on are ENFORCED, not assumed: an
      // out-of-range row would silently crown wrong first-occurrence
      // winners, so it fails the query instead (assert_true is codegen'd,
      // returns null when the bound holds — the +0 keeps it in the plan)
      .withColumn("ord",
        col(idCol) * lit(1L << 20) + col("pos") +
          coalesce(
            assert_true(
              col("pos") < lit(1 << 20) &&
                col(idCol).between(0L, (1L << 43) - 1),
              lit("paragraphDedup: doc id or paragraph position exceeds the packed-ordinal range"))
              .cast("long"),
            lit(0L)))
    val winners = paras.groupBy("h").agg(min("ord").as("w_ord"))
    paras
      .join(winners, "h")
      .withColumn("keep", col("ord") === col("w_ord"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("keep").cast("long")).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("pos"), col("para"))))),
            e => e.getField("para")),
          sep)).as("cleaned_md5"))
  }
}
