package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-training-data pipeline (north-star
  * extensions, SURVEY.md §7.4): per-document statistics, quality scoring,
  * language-ID heuristics, and content fingerprinting over the `documents`
  * table.
  *
  * Everything is built-in string/array expressions — tokenization is
  * `split`, set ops are array HOFs, hashing is md5 — so every operator is a
  * map-only pass (or one aggregation) with no UDFs, fully pushdown- and
  * codegen-friendly, and bit-reproducible in any engine (the DuckDB oracle
  * runs the same arithmetic).
  */
object TextAnalysis {

  /** Tiny illustrative stopword list; real deployments pass their own. */
  val DefaultStopwords: Seq[String] = Seq("the", "a")

  /** SQL-safe membership predicate: words carried as an array literal via
    * the function API (never interpolated into SQL text — a quote in a
    * stopword must not alter the expression), empty list ⇒ constant false.
    */
  private def stopwordHits(textCol: String, stopwords: Seq[String]) = {
    import org.apache.spark.sql.Column
    val words: Column = lit(stopwords.toArray)
    size(filter(split(col(textCol), " "), t => array_contains(words, t)))
  }

  /** Per-document surface statistics: whitespace token count, character
    * count, distinct-token count, mean token length. Map-only.
    */
  def textStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      expr(s"CAST(size(split($textCol, ' ')) AS BIGINT)").as("n_tokens"),
      expr(s"CAST(length($textCol) AS BIGINT)").as("n_chars_actual"),
      expr(s"CAST(size(array_distinct(split($textCol, ' '))) AS BIGINT)").as("n_uniq_tokens"),
      // Integer-quantized (micro-units) rather than round(x, n): fractional
      // decimal rounding of a double is engine-dependent near .xxx5
      // boundaries at ANY scale (Spark rounds the shortest-decimal repr,
      // DuckDB the binary value). Scale-0 rounding after *1e6 is safe —
      // x.5 is exactly representable, and both engines round it up.
      expr(s"CAST(round(length(replace($textCol, ' ', '')) * 1000000.0 / size(split($textCol, ' '))) AS BIGINT)")
        .as("avg_token_len_micro"))

  /** Per-document quality signals: stopword ratio, lexical diversity
    * (distinct/total tokens), and a composite score. The composite is the
    * kind of cheap filter a 100 TB pre-training cleanup applies before any
    * model-based scoring — one pass, no shuffle.
    */
  def qualityScore(
      docs: DataFrame,
      stopwords: Seq[String] = DefaultStopwords,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val nTokens = size(split(col(textCol), " "))
    docs.select(
      col(idCol),
      round(stopwordHits(textCol, stopwords) * lit(1.0) / nTokens, 4)
        .as("stopword_ratio"),
      round(size(array_distinct(split(col(textCol), " "))) * lit(1.0) / nTokens, 4)
        .as("uniq_ratio"))
      // scale 6, not 4: the inputs are 4-decimal, so the composite has at
      // most 5 decimals — rounding AT a possible half-boundary (scale 4)
      // is engine-dependent for binary-inexact doubles; scale 6 never sits
      // on a boundary.
      .withColumn("quality",
        round(lit(0.5) * col("uniq_ratio") + lit(0.5) * (lit(1) - col("stopword_ratio")), 6))
  }

  /** Deterministic language-ID heuristic: stopword-hit ratio against a
    * per-language marker list (here the English markers only — the fixture
    * corpus shares one vocabulary across its `lang` labels, so this pins the
    * MECHANISM; production swaps in real per-language n-gram tables).
    * Emits the guess, its score, and agreement with the labeled `lang`.
    */
  def languageId(
      docs: DataFrame,
      markers: Seq[String] = DefaultStopwords,
      threshold: Double = 0.05,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    docs.select(
      col(idCol), col("lang"),
      round(stopwordHits(textCol, markers) * lit(1.0) / size(split(col(textCol), " ")), 4)
        .as("en_score"))
      .withColumn("lang_guess",
        when(col("en_score") >= threshold, lit("en")).otherwise(lit("und")))
      .withColumn("is_match", (col("lang_guess") === col("lang")).cast("int"))
      .select(col(idCol), col("lang_guess"), col("en_score"), col("is_match"))
  }

  /** Content fingerprint: the minimum md5 over the document's 3-word
    * shingles (a rolling-hash winnowing degenerate with window = whole doc).
    * Identical fingerprints ⇒ shared shingle extremum — a cheap grouping
    * key for near-dup clustering upstream of [[Dedup.minHashNearDup]].
    * md5 (not xxhash64) deliberately: the value itself is the output and
    * must be engine-reproducible.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      expr(
        s"""CASE WHEN size(split($textCol, ' ')) >= 3
            THEN array_min(transform(${Dedup.wordShingleExpr(textCol, 3)}, s -> md5(s)))
            ELSE md5($textCol) END""").as("fingerprint"))

  /** Email pattern shared by [[redactPii]] and its oracle replay: character
    * classes + bounded quantifiers only, so Java regex and RE2-family
    * engines agree (no backreferences, no lookaround).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NNN-NNN-NNNN / NNN.NNN.NNNN phone shape — same dialect-safe subset. */
  val PhonePattern = "\\d{3}[-.]\\d{3}[-.]\\d{4}"

  /** PII scrubbing — the redaction pass every training corpus runs before
    * anything else: emails and phone numbers are replaced with typed
    * placeholder tokens and the per-document hit counts are kept for
    * filtering/auditing (a document with many redactions is often a
    * contact-dump page worth dropping wholesale). Map-only, one pass; the
    * pattern dialect is deliberately the Java∩RE2 subset so the transform
    * is engine-replayable (x13 hash-gates the REDACTED TEXT itself via
    * md5, not just the counts). Email runs before phone so a digit-bearing
    * address can't be half-eaten by the phone pass.
    */
  def redactPii(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      // phone hits are counted AFTER the email pass so the counts equal
      // the placeholder tokens actually emitted: a phone-shaped substring
      // inside an email local part is consumed by <EMAIL> and must not be
      // audited as a phone redaction
      .withColumn("__er",
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"))
      .select(
        col(idCol),
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("__er"), lit(PhonePattern), lit(0)))
          .cast("long").as("n_phones"),
        regexp_replace(col("__er"), PhonePattern, "<PHONE>").as("redacted"))

  /** BPE-ish regex token count: splits into letter runs, digit runs, and
    * single other-symbols — the pre-tokenization pass BPE vocabularies are
    * trained over. Both whitespace and regex counts in one map-only pass;
    * the simple character-class pattern means Java and RE2-family engines
    * agree.
    */
  def tokenCounts(
      docs: DataFrame,
      pattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      expr(s"CAST(size(split($textCol, ' ')) AS BIGINT)").as("ws_tokens"),
      // pattern via the function API, never spliced into SQL text (quotes/
      // backslashes in a caller's regex must reach the regex engine intact)
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).cast("long")
        .as("bpe_tokens"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    * algorithm): hash the ORDERED 3-word shingle sequence, slide a window
    * of `w` hashes, keep each window's minimum, emit the distinct selected
    * hashes per document. Guarantees any shared run of ≥ w+2 words between
    * two documents shares a fingerprint — the positional near-dup primitive
    * [[fingerprint]] degenerates from (its window = the whole doc).
    * One map-only pass + explode; md5 so the VALUES are engine-portable.
    */
  def winnow(
      docs: DataFrame,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // One native per-row pass ([[graft.functions.WinnowFingerprints]]):
    // shingle digests + sliding minima + distinct, no interpreted HOF
    // slices (the declarative form ran array_min(slice(hs, j, w)) per
    // window through the boxed path — O(windows·w) with an allocation per
    // window). Bit-identical output, pinned in spec.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(expr(s"graft_winnow($textCol, $w)")).as("fp"))
  }

  /** Top-k corpus terms per language by tf·idf with a LINEAR idf
    * (score = tf / df, micro-scaled): `ln`-based idf is deliberately
    * avoided because transcendental functions aren't bit-identical across
    * engines, and the classic N·tf/df product overflows 64-bit integers at
    * web-corpus tf·N magnitudes. Within a language partition N is CONSTANT,
    * so ranking by tf·1e6 div df is order-identical to tf·N·1e6/df while
    * tf·1e6 stays < 2⁶³ for any physical tf. Explode → one (lang, token)
    * partial-agg shuffle → per-lang top-k window over the (small)
    * distinct-term relation. At web-corpus scale the explode's map-side
    * partial agg is what keeps the shuffle proportional to the VOCABULARY,
    * not the token stream.
    */
  def topTermsTfIdf(
      docs: DataFrame,
      k: Int = 10,
      textCol: String = "text",
      langCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-row token pre-aggregation ([[graft.functions.TokenCounts]]):
    // one shuffled row per DISTINCT token per doc instead of per token
    // occurrence. df stays countDistinct(id) — NOT count(1) — so inputs
    // with duplicate id rows keep exact document frequencies (and oracle
    // parity); the distinct-expand now runs over the pre-aggregated rows.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .filter(col(textCol).isNotNull)
      .select(col(langCol), col(idCol),
        explode(expr(s"graft_token_counts($textCol)")).as(Seq("token", "c")))
      .groupBy(langCol, "token")
      .agg(sum("c").cast("long").as("tf"), countDistinct(idCol).as("df"))
      .withColumn("score_micro", expr("tf * 1000000L div df"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(langCol)
            .orderBy(col("score_micro").desc, col("token"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col(langCol), col("token"), col("tf"), col("df"),
        col("score_micro"), col("rank"))
  }

  /** Corpus rollup per (lang, source): doc count, token volume, mean doc
    * length — map-side partial agg into a tiny (|lang| x |source|) shuffle.
    */
  def corpusStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr(s"CAST(size(split($textCol, ' ')) AS BIGINT)")).as("total_tokens"),
        round(avg(length(col(textCol))), 4).as("avg_chars"))

  /** Within-document repetition (the Gopher/MassiveText duplicate-n-gram
    * filter): fraction of a document's n-gram occurrences that are repeats
    * of an earlier n-gram, micro-quantized to exact integer math
    * ((total − distinct)·1e6 div total; 0 for docs shorter than n tokens).
    * Map-only — the canonical cheap pre-training quality gate alongside
    * [[qualityScore]].
    */
  def repetition(docs: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      expr(s"CAST(greatest(size(split($textCol, ' ')) - ${n - 1}, 0) AS BIGINT)")
        .as("n_ngrams"),
      expr(s"CAST(size(${Dedup.wordShingleExpr(textCol, n)}) AS BIGINT)")
        .as("n_distinct_ngrams"))
      .withColumn("rep_micro",
        expr("CASE WHEN n_ngrams = 0 THEN 0L ELSE " +
          "(n_ngrams - n_distinct_ngrams) * 1000000L div n_ngrams END"))

  /** Gopher-style rule-based document filter (Rae et al. 2021, MassiveText
    * §A1.1 — the public heuristic gate every web-scale corpus runs before
    * any model-based scoring): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, alphabetic-word fraction, and a minimum distinct-
    * stopword requirement. Emits every signal, one 0/1 flag per rule, and
    * the composite `keep` — pipelines keep the flags so drop REASONS are
    * auditable, not just the verdict. Map-only, one pass, no shuffle; all
    * ratios are integer micro-units (`x * 1e6 div n`) so the verdict is
    * bit-identical in any engine. Thresholds are parameters; the defaults
    * are Gopher's except `minStopwords`, scaled to [[DefaultStopwords]]'s
    * 2-word list (Gopher: ≥2 of a 7-word list).
    */
  def gopherFilter(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minWordLenMicro: Long = 3000000L,
      maxWordLenMicro: Long = 10000000L,
      maxSymbolRatioMicro: Long = 100000L,
      minAlphaRatioMicro: Long = 800000L,
      minStopwords: Int = 2,
      stopwords: Seq[String] = DefaultStopwords,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.Column
    val words = split(col(textCol), " ")
    val nWords = size(words).cast("long")
    val stops: Column = lit(stopwords.toArray)
    docs
      .select(
        col(idCol),
        nWords.as("n_words"),
        // non-space chars * 1e6 / words — scale-0 round after *1e6 is the
        // engine-safe quantization (see textStats); 0 words can't occur
        // (split of even "" yields one element)
        expr(s"CAST(round(length(replace($textCol, ' ', '')) * 1000000.0 / size(split($textCol, ' '))) AS BIGINT)")
          .as("mean_word_len_micro"),
        // Gopher's "symbols" = '#' and '…' (here the ASCII '...'): count
        // occurrences by length difference after a literal replace — pure
        // integer arithmetic (Column./ would promote to double), and plain
        // replace (not regexp) so both engines share left-to-right
        // non-overlapping semantics
        expr(s"""CAST((length($textCol) - length(replace($textCol, '#', '')))
                 + (length($textCol) - length(replace($textCol, '...', ''))) div 3 AS BIGINT)""")
          .as("n_symbols"),
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha_words"),
        size(filter(array_distinct(words), w => array_contains(stops, w))).cast("long")
          .as("n_stopword_kinds"))
      .withColumn("symbol_ratio_micro", expr("n_symbols * 1000000L div n_words"))
      .withColumn("alpha_ratio_micro", expr("n_alpha_words * 1000000L div n_words"))
      .withColumn("f_word_count",
        (col("n_words") >= minWords && col("n_words") <= maxWords).cast("int"))
      .withColumn("f_word_len",
        (col("mean_word_len_micro") >= minWordLenMicro &&
          col("mean_word_len_micro") <= maxWordLenMicro).cast("int"))
      .withColumn("f_symbols", (col("symbol_ratio_micro") <= maxSymbolRatioMicro).cast("int"))
      .withColumn("f_alpha", (col("alpha_ratio_micro") >= minAlphaRatioMicro).cast("int"))
      .withColumn("f_stopwords", (col("n_stopword_kinds") >= minStopwords).cast("int"))
      .withColumn("keep",
        (col("f_word_count") + col("f_word_len") + col("f_symbols")
          + col("f_alpha") + col("f_stopwords") === 5).cast("int"))
      .drop("n_symbols", "n_alpha_words")
  }

  /** X26: HTML/boilerplate MAIN-CONTENT extraction — the crawl-curation
    * front door ahead of paragraph dedup (D10) and the P3 pipeline: raw
    * crawl pages arrive as markup, and nav bars / footers / link farms
    * must be stripped BEFORE any dedup or quality signal sees the text
    * (boilerplate dominates shingle sets and poisons near-dup clusters).
    * A jusText-style per-block classifier (Pomikálek 2011's core signals),
    * integer-exact so the whole extraction is oracle-gateable:
    *
    *  - blocks = markup lines (chr(10)-separated);
    *  - per block: `strip` = tags removed + trimmed; `len` = chars of
    *    strip; LINK DENSITY = anchor-text chars ·10⁶ div len (boilerplate
    *    nav/footer blocks are mostly anchor text); STOPWORD count over the
    *    whitespace tokens (real prose contains function words, link lists
    *    and code don't);
    *  - a block is CONTENT iff len ≥ minChars AND link density <
    *    maxLinkMicro AND ≥ minStop stopword hits — each rule also counted
    *    separately (the x14 per-rule-flag discipline, so a threshold
    *    change's blast radius is visible per rule).
    *
    * Output per document: the extracted text (content blocks joined by
    * chr(10)), its md5 (the value the oracle gates), block/rule counts.
    * Map-only — one projection, no shuffle, no UDF: every signal is a
    * higher-order-function expression over the block array, fully
    * codegen-friendly and engine-replayable (the DuckDB twin replays
    * tag-strip regex, anchor extraction and integer thresholds verbatim).
    */
  def extractMainContent(
      docs: DataFrame,
      htmlCol: String = "html",
      idCol: String = "doc_id",
      minChars: Int = 40,
      maxLinkMicro: Long = 200000L,
      minStop: Int = 1,
      stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    require(stopwords.nonEmpty && stopwords.forall(_.matches("[A-Za-z]+")),
      "stopwords must be plain alphabetic words (they ride in a SQL IN list)")
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    docs
      .withColumn("__blocks", expr(
        s"""transform(split($htmlCol, chr(10)), b -> named_struct(
           |  'strip', trim(regexp_replace(b, '<[^>]*>', '')),
           |  'anchor', aggregate(
           |      regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1),
           |      0L, (acc, x) -> acc + length(x))))""".stripMargin))
      .withColumn("__scored", expr(
        s"""transform(__blocks, s -> named_struct(
           |  'strip', s.strip,
           |  'len', length(s.strip),
           |  'link_micro', s.anchor * 1000000L div greatest(length(s.strip), 1L),
           |  'n_stop', size(filter(split(s.strip, ' '), t -> t IN ($stopList)))))""".stripMargin))
      .withColumn("__kept", expr(
        s"""filter(__scored, s -> s.len >= $minChars
           |  AND s.link_micro < ${maxLinkMicro}L
           |  AND s.n_stop >= $minStop)""".stripMargin))
      .select(
        col(idCol),
        expr("array_join(transform(__kept, s -> s.strip), chr(10))")
          .as("kept_text"),
        expr("CAST(size(__scored) AS BIGINT)").as("n_blocks"),
        expr("CAST(size(__kept) AS BIGINT)").as("n_content"),
        expr(s"CAST(size(filter(__scored, s -> s.len < $minChars)) AS BIGINT)")
          .as("n_fail_len"),
        expr(s"CAST(size(filter(__scored, s -> s.link_micro >= ${maxLinkMicro}L)) AS BIGINT)")
          .as("n_fail_link"),
        expr(s"CAST(size(filter(__scored, s -> s.n_stop < $minStop)) AS BIGINT)")
          .as("n_fail_stop"))
      .withColumn("kept_md5", md5(col("kept_text")))
  }

  /** Deterministic train/val/test split: the first 8 hex digits of
    * md5(id) read as a 32-bit value place each document in a bucket;
    * cumulative percent thresholds carve the buckets into splits. A pure
    * function of the id — stable across runs, engines, partitionings and
    * re-ingests (rows added later never reshuffle earlier assignments),
    * which is exactly what a 100 TB corpus needs from its split. Integer
    * threshold compare (v·100 < pct·2^32) — no float fractions.
    */
  def hashSplit(
      docs: DataFrame,
      trainPct: Int = 80,
      valPct: Int = 10,
      idCol: String = "doc_id"): DataFrame = {
    require(trainPct + valPct <= 100, "train + val must leave room for test")
    val v = s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    docs.select(
      col(idCol),
      expr(s"""CASE WHEN $v * 100 < ${trainPct}L * 4294967296L THEN 'train'
               WHEN $v * 100 < ${trainPct + valPct}L * 4294967296L THEN 'val'
               ELSE 'test' END""").as("split"))
  }

  /** X23: LEAKAGE-SAFE grouped split — [[hashSplit]]'s md5-threshold rule
    * applied to the GROUP key instead of the document id, so every document
    * of one `source` (domain, site, crawl shard) lands in the SAME split.
    * Near-duplicates cluster within a domain (templates, mirrors,
    * syndication), so an id-hashed split leaks training content into the
    * eval split through near-copies the X17 decontaminator then has to
    * catch one by one; hashing the group closes the channel structurally —
    * the standard grouped/leave-domain-out split for contamination-safe
    * evaluation. Deterministic, engine-replayable, no RNG; realized split
    * FRACTIONS are lumpier than X11's (the unit of assignment is a whole
    * group), which is the accepted cost of the guarantee.
    */
  def groupedSplit(
      docs: DataFrame,
      trainPct: Int = 80,
      valPct: Int = 10,
      idCol: String = "doc_id",
      groupCol: String = "source"): DataFrame = {
    require(trainPct + valPct <= 100, "train + val must leave room for test")
    val v =
      s"CAST(conv(substring(md5(CAST($groupCol AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    docs.select(
      col(idCol),
      col(groupCol),
      expr(s"""CASE WHEN $v * 100 < ${trainPct}L * 4294967296L THEN 'train'
               WHEN $v * 100 < ${trainPct + valPct}L * 4294967296L THEN 'val'
               ELSE 'test' END""").as("split"))
  }

  /** Sequence packing (GPT-style): concatenate each shard's documents in
    * id order and chop into fixed token-budget bins; a document's bin is
    * where its first token lands (documents may straddle bins, exactly like
    * concat-and-chunk training pipelines). The cumulative sum is windowed
    * PER SHARD (`source`) — the parallel unit at scale is the shard, never
    * a single global ordering (a global cumsum would serialize the corpus
    * through one task).
    */
  def packSequences(
      docs: DataFrame,
      budget: Int = 2048,
      shardCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      tokenCounts: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the packing budget's currency: the caller's (idCol, n_tokens)
    // relation — x12 passes [[bpeTokenCounts]] so bins are TRUE subword
    // budgets — falling back to the whitespace approximation
    val base = tokenCounts match {
      case Some(tc) =>
        docs.select(col(idCol), col(shardCol)).join(tc, Seq(idCol))
      case None =>
        docs.select(col(idCol), col(shardCol),
          expr(s"CAST(size(split($textCol, ' ')) AS BIGINT)").as("n_tokens"))
    }
    base
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", expr(s"start_offset div $budget"))
  }

  /** P8: the deterministic training-shard writer — the FINAL artifact of
    * the pipeline family: [[packSequences]]' packed sequences globally
    * shuffled into `nShards` fixed shards with a deterministic intra-shard
    * order, so a training run's data order is a pure function of the
    * corpus (bitwise-reproducible run-to-run, engine-to-engine — the p8
    * oracle replays shard assignment AND order). The "shuffle" is
    * md5-derived, the same primitive as x11's split: a sequence's shard is
    * its key-hash mod nShards, its position the rank of that hash within
    * the shard — statistically uniform (md5 avalanche ≈ a random permute,
    * which is what sequence-level shuffling exists to give SGD) yet fully
    * replayable, unlike any RNG shuffle.
    *
    * Scale shape: one row per PACKED SEQUENCE (not per document — the
    * groupBy collapses doc rows map-side), one hash-partitioned exchange
    * into shards, and a per-shard rank — sorts run inside each shard in
    * parallel and never globally. Output: (source, bin_id, n_docs,
    * n_tokens, shard, pos).
    */
  def trainingShards(
      packed: DataFrame,
      nShards: Int = 8,
      shardCol: String = "source"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    import org.apache.spark.sql.expressions.Window
    val bins = packed.groupBy(col(shardCol), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    bins
      .withColumn("skey",
        expr(s"md5(concat($shardCol, ':', CAST(bin_id AS STRING)))"))
      .withColumn("shard", expr(
        s"CAST(conv(substring(skey, 1, 8), 16, 10) AS BIGINT) % $nShards"))
      .withColumn("pos",
        row_number().over(
          Window.partitionBy("shard").orderBy(col("skey"), col(shardCol),
            col("bin_id"))).cast("long"))
      .select(col(shardCol), col("bin_id"), col("n_docs"), col("n_tokens"),
        col("shard"), col("pos"))
  }

  /** Commit [[trainingShards]] through the U5 manifest (shard = partition
    * column): the shard set publishes ATOMICALLY — a training job never
    * sees half a shuffle — and the batch-id fence makes re-runs no-ops.
    */
  def writeTrainingShards(
      packed: DataFrame,
      root: String,
      nShards: Int = 8,
      shardCol: String = "source",
      batchId: Long = 0L): Long = {
    val v = graft.core.ManifestTable.commit(
      packed.sparkSession, root,
      trainingShards(packed, nShards, shardCol)
        .withColumn("bucket", col("shard")),
      "bucket", batchId)
    // the partitioned write scatters each shard across the committing
    // job's tasks (up to shuffle-partition files per shard dir); compact
    // within partitions so a training loader opens O(shards) files — the
    // gated p8 read serves the post-OPTIMIZE version (values identical,
    // spec-pinned at the ManifestTable level)
    graft.core.ManifestTable.optimize(packed.sparkSession, root)
    v
  }

  /** Text canonicalization (the first step of most dedup/quality stacks,
    * where "Hello,  World!" and "hello world" must collide): lowercase,
    * strip every character outside [a-z0-9 ], collapse space runs, trim.
    * Map-only, all codegen'd built-ins; the charset is the deliberately
    * narrow pre-dedup canonical form, not a display transform. Patterns
    * stay in the Java∩RE2 subset (x13's rule) so any engine replays them.
    */
  def normalizeText(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      trim(regexp_replace(
        regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""),
        " +", " ")).as("normalized"))

  /** Eval-set decontamination by n-gram CONTAINMENT (the GPT-3/PaLM-style
    * check, complementing p2's winnow-fingerprint variant): for every
    * test-split document, the fraction of its distinct word n-grams (n=13
    * by convention) that appear anywhere in the train split. A test doc
    * with high containment leaked into training even if no single document
    * matches it wholesale — the case fingerprint overlap misses.
    *
    * Shape at 100 TB: grams travel as 16-hex md5 prefixes (8 bytes of
    * hash instead of ~80 bytes of 13-gram text; md5 keeps the oracle
    * replayable where xxhash64 would not be), the train side collapses to
    * DISTINCT gram keys with map-side partial aggregation before its
    * shuffle, and the containment test is one equi-join on the gram key —
    * never doc×doc. Output: per test doc, distinct-gram count, contaminated
    * count, and the integer-micro containment ratio.
    */
  def decontamination(
      docs: DataFrame,
      n: Int = 13,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val grams = docs.join(hashSplit(docs, idCol = idCol), idCol)
      .select(col(idCol), col("split"),
        explode(expr(Dedup.wordShingleExpr(textCol, n))).as("g"))
      .select(col(idCol), col("split"),
        expr("substring(md5(g), 1, 16)").as("gh"))
    val trainGrams = grams.filter(col("split") === "train")
      .select("gh").distinct()
    grams.filter(col("split") === "test")
      .join(trainGrams.withColumn("hit", lit(1L)), Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_micro",
        expr("n_contaminated * 1000000L div n_grams"))
  }

  /** X24 — FUZZY decontamination by n-gram containment (the graded
    * variant of [[decontamination]]'s any-13-gram flag): for each eval
    * document e, containment(e) = max over train docs t of
    * |grams(e) ∩ grams(t)| / |grams(e)| with n = 8 — the Llama-2/GPT-4
    * style check that catches PARAPHRASED benchmark leakage an exact
    * 13-gram hit misses (a two-token edit in a 45-token passage kills
    * every 13-gram but leaves most 8-grams intact; the x24 fixture plants
    * exactly that). Emits one row per eval doc: distinct-gram count, the
    * top contaminating train doc (max shared grams, ties → smallest id),
    * shared-gram count, containment in micro-units (integer-exact), and
    * the ≥`thresholdMicro` flag.
    *
    * Shape at 100 TB: the eval/benchmark side is SMALL by nature (the
    * realistic asymmetry), so its distinct-gram index broadcasts and the
    * train corpus streams through a map-side hash join — one pass over
    * the corpus, no doc×doc, no shuffle of corpus grams; the per-pair
    * counts aggregate map-side (a train doc meets few eval docs). Grams
    * are 16-hex md5 prefixes (the x17 cross-engine convention).
    */
  def fuzzyDecontamination(
      docs: DataFrame,
      evalPredicate: String,
      n: Int = 8,
      thresholdMicro: Long = 100000L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol), expr(evalPredicate).as("is_eval"),
        explode(expr(Dedup.wordShingleExpr(textCol, n))).as("g"))
      .select(col(idCol), col("is_eval"),
        expr("substring(md5(g), 1, 16)").as("gh"))
    // per-doc grams are already distinct (wordShingleExpr array_distincts),
    // so (id, gh) is unique on both sides and plain counts are set sizes
    val evalGrams = grams.filter(col("is_eval"))
      .select(col(idCol).as("eval_id"), col("gh"))
    val evalCounts = evalGrams.groupBy("eval_id")
      .agg(count(lit(1)).as("n_grams"))
    val shared = grams.filter(!col("is_eval"))
      .select(col(idCol).as("train_id"), col("gh"))
      .join(broadcast(evalGrams), "gh")
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("shared_grams"))
    val top = shared.groupBy("eval_id").agg(
      max(col("shared_grams")).as("shared_grams"),
      expr("max_by(train_id, struct(shared_grams, -train_id))")
        .as("top_train_id"))
    // base the output on the eval doc LIST (not the gram stream) so an
    // eval doc shorter than n tokens still gets its zero row
    docs.filter(expr(evalPredicate)).select(col(idCol).as("eval_id"))
      .join(evalCounts, Seq("eval_id"), "left")
      .join(top, Seq("eval_id"), "left")
      .select(
        col("eval_id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("top_train_id"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      .withColumn("containment_micro",
        expr("CASE WHEN n_grams = 0 THEN 0L " +
          "ELSE shared_grams * 1000000L div n_grams END"))
      .withColumn("is_contaminated",
        (col("containment_micro") >= thresholdMicro).cast("int"))
  }

  /** Per-domain document cap (web-crawl curation): keep at most `cap`
    * documents per source/domain, preferring the smallest ids (first
    * crawled). A boilerplate-heavy domain must not dominate the training
    * mixture, so this runs right after dedup in crawl pipelines.
    *
    * Ranking reuses the bounded [[graft.functions.TopKByScore]] aggregate
    * (score = −id, so "best" = smallest id): map-side partial ≤cap heaps
    * combine per (partition, domain), the shuffle carries one ≤cap buffer
    * per domain, and no task ever sorts a whole domain — the same shape
    * that fixed k1's scale flag, applied to the curation axis where domain
    * skew (one domain = half the crawl) is the norm, not the exception.
    * The join back to the full rows is a plain equi-join on the id — at
    * scale the capped side is |domains|·cap rows, broadcastable.
    */
  def domainCap(
      docs: DataFrame,
      cap: Int = 15,
      domainCol: String = "source",
      idCol: String = "doc_id",
      payload: Seq[String] = Seq("lang", "n_chars")): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val kept = docs
      .groupBy(col(domainCol))
      .agg(expr(s"graft_topk(CAST(-$idCol AS DOUBLE), $idCol, $cap)").as("tk"))
      .select(col(domainCol), explode(col("tk.id")).as(idCol))
    if (payload.isEmpty) kept.select(col(idCol), col(domainCol))
    else kept.join(docs.select((idCol +: payload).map(col): _*), idCol)
      .select((Seq(idCol, domainCol) ++ payload).map(col): _*)
  }

  /** Unigram corpus-frequency quality score: how "ordinary" a document's
    * vocabulary is relative to the corpus it lives in — the exact-math
    * stand-in for unigram-LM perplexity filtering (CCNet's quality axis).
    * Gibberish, OCR noise and boilerplate-free junk score LOW (their tokens
    * are rare corpus-wide); stopword-y prose scores high. Emitted per doc:
    * token count, mean corpus frequency of its tokens (micro-units) and the
    * out-of-vocabulary ratio (tokens below `minCount` occurrences).
    *
    * All integer math — token counts, integer-division micro quantization —
    * so the score is engine-exact (no log(), whose last-bit behavior is
    * libm-specific and would break value-gating; the frequency mean ranks
    * documents the same way a unigram logprob does for filtering purposes).
    *
    * Shape at 100 TB: one token-count aggregation (map-side combined — the
    * zipfian head collapses in the partials), then the `>= minCount`
    * vocabulary joins back for map-only scoring; each doc's token rows
    * collapse map-side in the per-doc sum. Nothing quadratic, nothing
    * driver-side.
    *
    * The vocabulary join is NOT hard-broadcast-hinted by default: Heaps'
    * law bounds how FAST distinct-above-threshold tokens grow, not their
    * absolute size, so on a web-scale corpus the vocabulary can exceed
    * executor memory and a forced broadcast would OOM with no fallback.
    * With AQE on (the engine default) the runtime sees the aggregated
    * vocabulary's true size and picks broadcast exactly when it fits —
    * `broadcastVocab = Some(true)` forces the hint for callers that know
    * their vocabulary is small, `Some(false)` pins a shuffle join.
    */
  def unigramQuality(
      docs: DataFrame,
      minCount: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id",
      broadcastVocab: Option[Boolean] = None): DataFrame = {
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
    val vocab0 = toks.groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val vocab = broadcastVocab match {
      case Some(true)  => broadcast(vocab0)
      case Some(false) => vocab0.hint("shuffle_hash")
      case None        => vocab0
    }
    toks.join(vocab, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("cnt"), lit(0L))).as("__sum_cnt"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("__n_oov"))
      .select(col(idCol), col("n_tokens"),
        expr("__sum_cnt * 1000000L div n_tokens").as("freq_micro"),
        expr("__n_oov * 1000000L div n_tokens").as("oov_micro"))
  }

  /** Bigram language-model quality (X19) — the KenLM-style fluency filter
    * one rung above [[unigramQuality]]: a doc scores high when its ADJACENT
    * token pairs are corpus-frequent ("of the", "in a"), which unigram
    * frequency cannot see — shuffled or template-stitched text keeps its
    * unigram profile but loses its bigram mass, exactly the junk class
    * n-gram LM filters exist to catch.
    *
    * Per doc: bigram count, mean conditional frequency in micro-units
    * (for each bigram (w1,w2): cnt(w1,w2)·10⁶ div cnt(w1) — the integer
    * rendering of P(w2|w1), engine-exact like x18's mean), and the
    * out-of-vocabulary bigram ratio (pairs below `minCount` corpus
    * occurrences score 0 and count as OOV). Docs with fewer than two
    * tokens have nothing to score and emit no row.
    *
    * Shape at 100 TB: bigram extraction is MAP-ONLY (an index fold over
    * the token array — no self-join, no window); the bigram vocabulary
    * aggregates map-side (zipfian head collapses in partials); both
    * vocabulary joins carry no broadcast hint (Heaps-law caveat from x18 —
    * AQE picks broadcast exactly when the aggregated vocabulary fits).
    */
  def bigramQuality(
      docs: DataFrame,
      minCount: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val arr = docs.select(col(idCol), split(col(textCol), " ").as("a"))
      .filter(size(col("a")) >= 2)
    val bg = arr.select(col(idCol), expr(
      """explode(transform(sequence(1, size(a) - 1),
           i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2)))""").as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = docs.select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cnt1"))
    val pairs = bg.groupBy("w1", "w2")
      .agg(count(lit(1)).as("cnt2"))
      .filter(col("cnt2") >= minCount)
    bg.join(pairs, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt2").isNotNull, expr("cnt2 * 1000000L div cnt1"))
          .otherwise(0L)).as("__s"),
        sum(when(col("cnt2").isNull, 1L).otherwise(0L)).as("__oov"))
      .select(col(idCol), col("n_bigrams"),
        expr("__s div n_bigrams").as("lm_micro"),
        expr("__oov * 1000000L div n_bigrams").as("oov_bigram_micro"))
  }

  /** X25: collocation extraction — the top-k bigrams most over-represented
    * relative to their parts (Church & Hanks 1990's association-ratio /
    * PMI measure), the classic first pass for multi-word-expression and
    * named-entity vocabulary mining over a corpus. PMI = log of the lift
    * n·c₁₂/(c₁·c₂); `log` is libm-specific in its last bit (the BM25/k14
    * argument), so the score IS the lift in integer milli-units, monotone
    * in PMI — ranking preserved, values engine-exact:
    *
    *   lift_milli = ((c₁₂·10⁶) div c₁) · n div (c₂·10³)
    *
    * with that EXACT division order (each stage bounded: c₁₂ ≤ c₁ keeps
    * the first factor ≤ 10⁶, so the product stays < 2⁶³ for corpora up to
    * ~9·10¹² bigrams — no overflow at 100 TB). `minCount` gates the
    * rare-pair noise PMI is notorious for (a 2-occurrence typo pair has
    * sky-high lift).
    *
    * Shape at scale: two aggregations (unigrams, bigrams) that collapse
    * map-side; the unigram join carries no broadcast hint (Heaps-law/AQE,
    * the x18 convention); the final global top-k is sort+limit — Spark
    * plans TakeOrderedAndProject (per-partition heaps), never a full sort.
    */
  def collocations(
      docs: DataFrame,
      k: Int = 50,
      minCount: Int = 5,
      textCol: String = "text"): DataFrame = {
    // NO spreadNarrowScan here (optimization round 22): the bigram and
    // unigram explodes are CHEAPER than shuffling the full text to widen
    // them — the r21 driver run measured the spread at 1.07 s → 2.04 s
    // (32 cpus) / 1.48 s (8 cpus), a regression at both core counts
    // (guide §1.3). At production split counts it was an identity anyway.
    val spread = docs
    val arr = spread.select(split(col(textCol), " ").as("a"))
      .filter(size(col("a")) >= 2)
    val bg = arr.select(expr(
      """explode(transform(sequence(1, size(a) - 1),
           i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2)))""").as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(true) // read by the pair counts AND the total
    val uni = spread.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val n = bg.count()
    bg.groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cnt").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), "w2")
      .select(col("w1"), col("w2"), col("n_pair"),
        expr(s"((n_pair * 1000000L) div c1) * ${n}L div (c2 * 1000L)")
          .as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("n_pair").desc,
        col("w1"), col("w2"))
      .limit(k)
  }

  /** DSIR-style importance selection (X20) — Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling": score every
    * document by how much its hashed-bigram feature distribution looks like
    * a small TARGET slice (the high-quality corpus you want more of)
    * relative to the raw corpus, then keep the top `budget` scorers. This
    * is the data-selection operator pretraining pipelines run between crawl
    * curation and mixture sampling: "find me the web documents that read
    * like Wikipedia".
    *
    * Engine-exact rendering of the paper's machinery:
    *  - features = bigrams hashed into `nBuckets` buckets via the md5
    *    prefix (the paper's hashed n-gram feature space; md5 keeps the
    *    bucket assignment engine-replayable, like x11's split hash);
    *  - per-bucket probabilities under BOTH distributions with Laplace
    *    smoothing, quantized to integer NANO-probabilities: p = (cnt +
    *    1)·10⁹ div (total + nBuckets). The 10⁹ scale bounds the
    *    intermediate at cnt·10⁹ ≤ 2⁶³ for any bucket count up to ~9·10⁹ —
    *    with 4096 buckets that is ~4·10¹³ total bigrams (≈150 TB of text)
    *    before overflow, and the scale can drop another decade beyond;
    *  - per-feature importance ratio in micro-units: p_target·10⁶ div
    *    p_raw, clamped at 10¹² so a single extreme bucket cannot overflow
    *    a document's sum (and stays exactly double-representable for the
    *    top-k heap);
    *  - document score = MEAN feature ratio (integer div) — the log-free
    *    surrogate for the paper's mean log-ratio, same convention as
    *    x18/x19 (monotone agreement on the bulk, no libm in the gated
    *    path);
    *  - selection = top-`budget` by (score, id) through the bounded
    *    `graft_topk` aggregate — one reduce, no global sort, no window.
    *
    * Shape at 100 TB: bigram hashing is map-only; both count aggregations
    * collapse map-side into ≤ nBuckets rows; the bucket-ratio table is ≤
    * nBuckets rows joined back (AQE broadcasts it); the corpus never
    * shuffles more than (id, feature-bucket) pairs; the final top-k is a
    * fixed-size heap per partition. The target slice is identified by
    * predicate, not a separate table, so the whole derivation is one pass
    * over the corpus plus bounded small-side state.
    */
  def importanceSelect(
      docs: DataFrame,
      targetPredicate: String,
      budget: Int = 100,
      nBuckets: Int = 4096,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // spreadNarrowScan: both corpus explodes (the bucket-count pass and
    // the scoring pass) otherwise run inside 1-task single-file scan
    // stages; identity at production split counts
    val arr = Similarity.spreadNarrowScan(docs)
      .select(col(idCol), split(col(textCol), " ").as("a"),
        expr(targetPredicate).as("is_tgt"))
      .filter(size(col("a")) >= 2)
    val feats = arr.select(col(idCol), col("is_tgt"), explode(expr(
      s"""transform(sequence(1, size(a) - 1),
           i -> CAST(conv(substring(md5(concat(element_at(a, i), ' ', element_at(a, i + 1))), 1, 8), 16, 10) AS BIGINT) % $nBuckets)"""))
      .as("f"))
    // localCheckpoint: `counts` (≤ nBuckets rows, tiny at any corpus size)
    // is consumed by BOTH the totals aggregate and the ratio projection —
    // without materialization each consumer re-runs the full corpus explode
    // underneath it (the subtrees differ, so ReuseExchange can't dedup)
    val counts = feats.groupBy("f").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"))
      .localCheckpoint(true)
    // 1-row totals cross-joined in (broadcast by AQE) — no driver collect
    val totals = counts.agg(
      sum("cr").as("nr"), sum("ct").as("nt"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("f"),
        // greatest(..., 1): beyond ~1e9 features a rare bucket's raw
        // nano-probability can floor to 0 — clamp so the ratio saturates
        // at the cap instead of dividing by zero
        expr(s"least((ct + 1L) * 1000000000L div (nt + ${nBuckets}L) * 1000000L " +
          s"div greatest((cr + 1L) * 1000000000L div (nr + ${nBuckets}L), 1L), " +
          "1000000000000L)")
          .as("ratio_micro"))
    // localCheckpoint: `scored` (one row per doc — orders of magnitude
    // smaller than the bigram stream) feeds both the top-k aggregate and
    // the join-back that recovers (n_feats, dsir_micro) for the winners;
    // materializing it caps the whole derivation at TWO corpus explodes
    // (the counts pass and the scoring pass) instead of re-deriving the
    // chain once per consumer. broadcast(ratios): ≤ nBuckets rows.
    val scored = feats.join(broadcast(ratios), "f")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum("ratio_micro").as("__s"))
      .select(col(idCol), col("n_feats"), expr("__s div n_feats").as("dsir_micro"))
      .localCheckpoint(true)
    // graft_topk's total order (score desc, id asc on ties) makes the
    // selection deterministic; dsir_micro <= 1e12 casts to double exactly
    scored
      .agg(expr(s"graft_topk(CAST(dsir_micro AS DOUBLE), $idCol, $budget)").as("tk"))
      .select(explode(col("tk.id")).as(idCol))
      .join(scored, Seq(idCol))
  }

  /** Heavy-hitter tokens — every token whose exact count exceeds n/k —
    * discovered with a Misra–Gries summary and then EXACT-verified, so the
    * values are deterministic (and oracle-gateable) while the discovery
    * never shuffles a full (token, count) table:
    *
    *  1. one pass aggregates all tokens into a single k-counter MG summary
    *     ([[graft.functions.MisraGriesAgg]] — fixed-size mergeable partials,
    *     the frequency twin of the A18 KMV sketch) plus the exact total n;
    *  2. the ≤k candidates (a guaranteed SUPERSET of every over-threshold
    *     token, under any merge order) collect to the driver — bounded by
    *     k, the same contract as the Bloom/centroid materializations;
    *  3. a second pass exact-counts ONLY the candidates (map-side filter on
    *     a k-item literal) and keeps those with count·k > n.
    *
    * At 100 TB this is how dominant tokens/domains/URLs are found: the
    * shuffle carries k-bounded summaries and then |candidates| counts —
    * never the full vocabulary.
    */
  def heavyTokens(
      docs: DataFrame,
      k: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = docs.select(explode(split(col(textCol), " ")).as("token"))
    val row = toks
      .agg(expr(s"graft_mg(token, $k)").as("cands"), count(lit(1)).as("n"))
      .collect()(0)
    val cands = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
      .map(_.getString(0)).toSeq
    val n = row.getLong(1)
    verifyHeavyCandidates(toks, cands, k, n)
  }

  // ── persisted heavy-hitters summary (st17's artifact) ─────────────────

  /** Absorb one ingest batch into the stored heavy-hitters summary at
    * `path`: ONE k-counter Misra–Gries pass over this batch only writes its
    * ≤ k candidates (plus the batch token total) under `batch=<id>` with
    * partition-scoped overwrite — idempotent per batch id, the
    * [[Retrieval.absorbTextIndex]] fence.
    *
    * Why per-batch summaries compose: if a token's GLOBAL count exceeds
    * n/k, then with batch totals n_i (Σn_i = n) its per-batch counts c_i
    * (Σc_i = c > n/k = Σn_i/k) must exceed n_i/k in at least one batch —
    * otherwise c ≤ n/k — and MG over that batch is guaranteed to keep any
    * item with c_i > n_i/k. So the UNION of per-batch candidate sets is a
    * guaranteed superset of every global heavy hitter under ANY batch
    * split, and the exact verify in [[searchHeavyHitters]] makes the final
    * values identical to the single-pass [[heavyTokens]].
    */
  def absorbHeavyHitters(
      path: String,
      batch: DataFrame,
      batchId: String,
      k: Int = 64,
      textCol: String = "text"): Unit = {
    graft.core.IndexOptimize.absorbBatch(
        batch.sparkSession, path, batchId, HeavyHitterRels) {
      graft.functions.GraftFunctions.register(batch.sparkSession)
      batch.select(explode(split(col(textCol), " ")).as("token"))
        .agg(expr(s"graft_mg(token, $k)").as("cands"), count(lit(1)).as("n"))
        .select(explode(col("cands")).as("c"), col("n"))
        // summary_k rides with the batch: the superset guarantee only
        // covers searches at k' <= k (a coarser threshold than the
        // summary's) — the search validates against it instead of
        // silently under-reporting
        .select(col("c.item").as("token"), col("c.lb").as("lb"),
          col("n").as("batch_n"), lit(k).as("summary_k"))
        .write.mode("overwrite").parquet(s"$path/cands/batch=$batchId")
    }
  }

  /** The summary's batch-partitioned relations (absorb and OPTIMIZE). */
  private val HeavyHitterRels = Seq("cands")

  /** OPTIMIZE the stored summaries: fold accumulated `batch=*` absorb
    * partitions into one consolidated partition ([[graft.core
    * .IndexOptimize]]). The search takes the candidate UNION and
    * min(summary_k) over rows — batch-agnostic, so value-identical
    * post-fold (spec-pinned).
    */
  def optimizeHeavyHitters(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetBytes: Long = graft.core.Compaction.DefaultTargetBytes)
      : Seq[graft.core.IndexOptimize.RelOptStats] =
    graft.core.IndexOptimize.optimize(
      spark, path, HeavyHitterRels, targetBytes)

  /** Heavy-hitter tokens answered from the STORED per-batch summaries —
    * value-identical to [[heavyTokens]] on the same corpus (shared oracle):
    * the stored candidate union (≤ batches·k rows — driver-bounded, the
    * centroid/Bloom contract) is exact-verified with one bounded pass over
    * the corpus, exactly [[heavyTokens]] steps 2–3, so WHICH batch
    * boundaries produced the summaries can never change the result.
    */
  def searchHeavyHitters(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      docs: DataFrame,
      k: Int = 64,
      textCol: String = "text"): DataFrame = {
    val stored = spark.read.parquet(s"$path/cands")
    // a search at k' > summary k asks for a FINER threshold (n/k' < n/k)
    // than the summaries guarantee candidates for — a true hitter between
    // the two thresholds could be missing from every batch summary, so
    // the result would be silently incomplete. Refuse loudly.
    val minStoredK = stored.agg(min("summary_k")).head().getInt(0)
    require(k <= minStoredK,
      s"summaries at $path were absorbed with k=$minStoredK; searching at " +
        s"k=$k needs a finer candidate threshold than they guarantee — " +
        "re-absorb with the larger k or search at k <= " + minStoredK)
    val cands = stored
      .select("token").distinct().collect().map(_.getString(0)).toSeq
    val toks = docs.select(explode(split(col(textCol), " ")).as("token"))
    verifyHeavyCandidates(toks, cands, k, toks.count())
  }

  /** [[heavyTokens]] steps 2–3, shared with the st17 search so the
    * tokenize/threshold contract can never fork: exact-count ONLY the
    * candidate superset (map-side literal filter) and keep tokens with
    * count·k > n.
    */
  private def verifyHeavyCandidates(
      toks: DataFrame, cands: Seq[String], k: Int, n: Long): DataFrame =
    toks.filter(col("token").isin(cands: _*))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * k > n)

  /** Domain-weighted mixture sampling to a token budget: build a training
    * mixture of ~`budgetTokens` whitespace tokens with every domain given
    * an EQUAL token share (the Pile/DoReMi-style rebalancing move — upweight
    * scarce domains, downsample dominant ones). Per domain: target =
    * budget / n_domains, sampling rate = min(1, target / domain_tokens),
    * and a document is kept iff the uniform hash of its id falls under the
    * domain's rate — selection is a pure function of (doc_id, corpus
    * composition), so the sample is reproducible run-to-run and engine-to-
    * engine (the p4 oracle replays it in SQL), and a re-run over a grown
    * corpus keeps maximal overlap with the previous sample (rates drift,
    * but each doc's hash never changes — unlike any RNG-based sampler).
    *
    * Shape at 100 TB: one partial-aggregated shuffle of |domains| rows for
    * the totals, a broadcast of the |domains|-row rate table back onto the
    * corpus, and a map-side filter — the corpus itself never shuffles. The
    * uniform hash is the first 8 hex digits of md5(id) over 2³², the same
    * deterministic-sampling primitive the stratified sampler (a14) and the
    * IVF training sample (k3) use.
    */
  def mixtureSample(
      docs: DataFrame,
      budgetTokens: Long,
      domainCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "mixtureSample requires a positive token budget")
    val tok = docs.select(
      col(idCol), col(domainCol),
      expr(s"CAST(size(split($textCol, ' ')) AS BIGINT)").as("n_tokens"))
    val totals = tok.groupBy(col(domainCol))
      .agg(sum(col("n_tokens")).as("domain_tokens"))
    val rates = totals
      .crossJoin(broadcast(totals.agg(count(lit(1)).as("n_domains"))))
      .withColumn("rate",
        least(lit(1.0),
          lit(budgetTokens).cast("double") / col("n_domains") / col("domain_tokens")))
      .select(col(domainCol), col("rate"))
    tok.join(broadcast(rates), domainCol)
      .filter(
        expr(s"CAST(CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 8), 16, 10) AS BIGINT) AS DOUBLE)")
          / lit(4294967296.0) < col("rate"))
      .select(col(idCol), col(domainCol), col("n_tokens"))
  }

  /** P9: TEMPERATURE-weighted mixture sampling (the Pile/PaLM/mT5 α-mixing
    * move, α = 0.5): domain token shares ∝ (domain_tokens)^α — between
    * [[mixtureSample]]'s equal shares (α = 0) and the raw natural
    * distribution (α = 1), the standard compromise that upweights scarce
    * domains without drowning the corpus in them. Deterministic and
    * engine-replayable like p4: the ONE transcendental step (sqrt — IEEE
    * correctly-rounded, bit-identical across engines, the cosine-oracle
    * precedent) is micro-quantized immediately, every later step is
    * integer arithmetic plus the same double-division rate and md5-hash
    * keep rule p4 replays. Same scale shape as p4: one |domains|-row
    * aggregate, a broadcast rate table, a map-side filter — the corpus
    * never shuffles.
    */
  def mixtureSampleTemperature(
      docs: DataFrame,
      budgetTokens: Long,
      domainCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, "mixtureSampleTemperature requires a positive token budget")
    val tok = docs.select(
      col(idCol), col(domainCol),
      expr(s"CAST(size(split($textCol, ' ')) AS BIGINT)").as("n_tokens"))
    val totals = tok.groupBy(col(domainCol))
      .agg(sum(col("n_tokens")).as("domain_tokens"))
    val weighted = totals.withColumn("w_micro",
      expr("CAST(floor(sqrt(CAST(domain_tokens AS DOUBLE)) * 1000000) AS BIGINT)"))
    // rate in DOUBLE throughout: budget × w_micro in Long wraps past 2^63
    // (a ~1e10-token budget over million-token domains — exactly the
    // large-corpus regime this operator targets), and the oracle's BIGINT
    // would error rather than wrap. share = w_micro/w_total first (≤ 1),
    // then × budget / domain_tokens — left-associated, correctly-rounded
    // IEEE ops in the same order on both engines, so bitwise-replayable.
    val rates = weighted
      .crossJoin(broadcast(weighted.select(sum("w_micro").as("w_total"))))
      .withColumn("rate",
        least(lit(1.0),
          expr("CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) " +
            s"* CAST(${budgetTokens}L AS DOUBLE) / CAST(domain_tokens AS DOUBLE)")))
      .select(col(domainCol), col("rate"))
    tok.join(broadcast(rates), domainCol)
      .filter(
        expr(s"CAST(CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 8), 16, 10) AS BIGINT) AS DOUBLE)")
          / lit(4294967296.0) < col("rate"))
      .select(col(idCol), col(domainCol), col("n_tokens"))
  }

  /** The BPE pre-tokenization pattern — x6's letter-run/digit-run/symbol
    * classes, the split BPE vocabularies are trained over. Java∩RE2 subset
    * (x13's rule) so the oracle replays it.
    */
  val BpePreTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** X22: a REAL trained BPE tokenizer — deterministic, integer-exact, and
    * oracle-replayable, replacing x6's "count the pre-tokens" approximation
    * as the engine's token-budget currency.
    *
    * Design (every step a pure function of the corpus):
    *  - TRAINING corpus = the top-`vocabWords` pre-token words by
    *    (freq DESC, word ASC) — a bounded top-k, so the merge learner sees
    *    O(V) rows at any data scale (the K3 sample-only-Lloyd contract).
    *  - A word is represented as its symbol sequence joined by TWO spaces
    *    with single-space sentinels (`" l  o  w  </w> "`). On this form,
    *    applying merge (a,b) is the LITERAL string replace
    *    `" a  b " -> " ab "` — left-to-right, non-overlapping — which Java's
    *    `String.replace`, Spark's `replace`, and DuckDB's `replace` all
    *    implement identically (no regex, no lookarounds RE2 lacks). The
    *    double-space separator is what makes back-to-back occurrences
    *    (`a b a b`) both merge in one pass: with single spaces the two
    *    matches would share a boundary character and the second would be
    *    skipped.
    *  - Each of `merges` rounds counts adjacent pairs (freq-weighted, ALL
    *    adjacent positions) and merges the (count DESC, left ASC, right
    *    ASC) argmax everywhere — classic BPE learning with a total-order
    *    tie-break.
    *  - ENCODING applies the learned merges IN RANK ORDER, one replace per
    *    rank, to the corpus's DISTINCT words only — O(vocab · merges) work
    *    however big the corpus, with per-doc counts recovered through a
    *    broadcast word→length join. (Rank-order application is itself the
    *    deterministic spec here and in the oracle; it coincides with
    *    min-rank iteration except when a later merge recreates an earlier
    *    pair's text, which single-character seeds make pathological.)
    *
    * Training runs on the driver over the collected top-V table — bounded
    * like the centroid/codebook collects (V rows, not data) — because M
    * sequential argmax rounds on V tiny strings are driver-trivial but M
    * Spark jobs would dominate wall-clock.
    */
  def bpeTrain(
      docs: DataFrame,
      merges: Int = 32,
      vocabWords: Int = 256,
      textCol: String = "text"): Seq[(String, String)] = {
    require(merges > 0 && vocabWords > 1, "bpeTrain needs merges > 0, vocabWords > 1")
    val top = wordRelation(docs, textCol)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(vocabWords)
      .collect() // bounded: vocabWords rows
    var entries = top.map(r => (seqOf(r.getString(0)), r.getLong(1)))
    val learned = scala.collection.mutable.ListBuffer[(String, String)]()
    for (_ <- 1 to merges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((seq, freq) <- entries) {
        val toks = seq.trim.split("  ")
        var i = 0
        while (i < toks.length - 1) {
          val k = (toks(i), toks(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + freq
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"BPE pair inventory exhausted before $merges merges — lower `merges`")
      val ((l, r), _) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      learned += ((l, r))
      entries = entries.map { case (seq, freq) =>
        (seq.replace(s" $l  $r ", s" $l$r "), freq)
      }
    }
    learned.toList
  }

  /** The learned merge table as a relation: (merge_rank, pair_left,
    * pair_right) — x22's auditable artifact, 1-indexed in learning order.
    */
  def bpeMerges(
      docs: DataFrame,
      merges: Int = 32,
      vocabWords: Int = 256,
      textCol: String = "text"): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeTrain(docs, merges, vocabWords, textCol).zipWithIndex
      .map { case ((l, r), i) => (i + 1L, l, r) }
      .toDF("merge_rank", "pair_left", "pair_right")
  }

  /** Per-document TRUE token counts under the trained BPE: encode the
    * distinct-word vocabulary once (merges in rank order), then recover
    * each document's count as the sum of its words' subword lengths via a
    * broadcast-size join — the corpus is touched by exactly one explode
    * pass and never carries the merge chain itself. Wordless documents
    * count 0.
    */
  def bpeTokenCounts(
      docs: DataFrame,
      merges: Int = 32,
      vocabWords: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val learned = bpeTrain(docs, merges, vocabWords, textCol)
    val words = docs.select(col(idCol),
      explode(expr(
        s"regexp_extract_all($textCol, '$BpePreTokenPattern', 0)")).as("w"))
    val vocab = words.select("w").distinct()
      .withColumn("seq", expr(
        "concat(' ', array_join(transform(sequence(1, length(w)), " +
          "i -> substring(w, i, 1)), '  '), '  </w> ')"))
    val encoded = learned.foldLeft(vocab) { case (df, (l, r)) =>
      df.withColumn("seq",
        replace(col("seq"), lit(s" $l  $r "), lit(s" $l$r ")))
    }.select(col("w"),
      size(split(trim(col("seq")), "  ")).cast("long").as("nt"))
    val perDoc = words.join(encoded, "w")
      .groupBy(col(idCol)).agg(sum(col("nt")).as("bpe_tokens"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("bpe_tokens"))
  }

  /** One (doc_id, word) row per pre-token occurrence — training and
    * encoding share this relation.
    */
  private def wordRelation(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(
      s"regexp_extract_all($textCol, '$BpePreTokenPattern', 0)")).as("w"))

  /** The double-space symbol-sequence form of one word. */
  private def seqOf(w: String): String =
    w.map(_.toString).mkString(" ", "  ", "  </w> ")
}
