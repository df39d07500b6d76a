package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** Dedup suite — correctness vs in-Spark brute force (the oracle gate does
  * the cross-engine check; here we pin LSH recall and the scale shapes).
  */
class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("exact dedup keeps lowest id per content and never drops uniques") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val distinctTexts = docs.select("text").distinct().count()
    assert(out.count() == distinctTexts)
    // every surviving id is the min id of its text group
    val mins = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    assert(out.select("doc_id").exceptAll(mins.select("doc_id")).isEmpty)
  }

  test("minhash-LSH finds exactly the true Jaccard>=0.6 pair set (full recall on fixture)") {
    // In-Spark brute force over all pairs = ground truth at test scale.
    val sets = docs.select(
      col("doc_id").as("id"),
      expr(Dedup.wordShingleExpr("text", 3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val truth = sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .withColumn("i", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("j", col("i").cast("double") /
        (size(col("a.sh")) + size(col("b.sh")) - col("i")))
      .filter(col("j") >= 0.6)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))

    val lsh = Dedup.minHashNearDup(docs).select("a_id", "b_id")
    assert(truth.exceptAll(lsh).isEmpty, "LSH missed true pairs")
    assert(lsh.exceptAll(truth).isEmpty, "verification let a false pair through")
    assert(lsh.count() > 0, "fixture should contain planted near-dups")
  }

  test("incremental dedup equals the full run restricted to delta-touching pairs") {
    val isDelta = col("doc_id") % 3 === 0
    val incremental = Dedup.incrementalMinHashNearDup(
      docs.filter(!isDelta), docs.filter(isDelta))
    val deltaIds = docs.filter(isDelta).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val full = Dedup.minHashNearDup(docs)
      .filter(col("a_id").isin(deltaIds.toSeq: _*) ||
        col("b_id").isin(deltaIds.toSeq: _*))
    assert(incremental.count() > 0, "fixture should have delta-touching pairs")
    assert(incremental.exceptAll(full).isEmpty && full.exceptAll(incremental).isEmpty,
      "incremental pair set diverged from the filtered full run")
  }

  test("incrementalFromIndex equals the inline incremental run") {
    val isDelta = col("doc_id") % 3 === 0
    val path = tmpDir("d9_index")
    Dedup.writeIndex(docs.filter(!isDelta), path)
    val fromIndex = Dedup.incrementalFromIndex(spark, path, docs.filter(isDelta))
    val inline = Dedup.incrementalMinHashNearDup(
      docs.filter(!isDelta), docs.filter(isDelta))
    assert(fromIndex.count() > 0, "fixture should have delta-touching pairs")
    assert(fromIndex.exceptAll(inline).isEmpty && inline.exceptAll(fromIndex).isEmpty,
      "stored-index run diverged from the inline incremental run")
  }

  test("appendToIndex: day-2 runs against the appended index equal a full rebuild") {
    val day0 = col("doc_id") % 3 === 0
    val day1 = col("doc_id") % 3 === 1
    val day2 = col("doc_id") % 3 === 2
    val appended = tmpDir("d9_append")
    Dedup.writeIndex(docs.filter(day0), appended)
    Dedup.appendToIndex(appended, docs.filter(day1), "day1") // end of day 1: O(delta)
    // a crash-retry of the same ingest batch must be a no-op, not a
    // row-duplicating second append
    Dedup.appendToIndex(appended, docs.filter(day1), "day1")
    val rebuilt = tmpDir("d9_rebuild")
    Dedup.writeIndex(docs.filter(day0 || day1), rebuilt) // O(corpus) alternative
    val viaAppend = Dedup.incrementalFromIndex(spark, appended, docs.filter(day2))
    val viaRebuild = Dedup.incrementalFromIndex(spark, rebuilt, docs.filter(day2))
    assert(viaAppend.count() > 0, "fixture should have day-2-touching pairs")
    assert(viaAppend.exceptAll(viaRebuild).isEmpty && viaRebuild.exceptAll(viaAppend).isEmpty,
      "appended (and batch-retried) index diverged from a full index rebuild")
  }

  test("delta run against the stored index never re-reads corpus text") {
    import spark.implicits._
    val path = tmpDir("d9_index_scan")
    Dedup.writeIndex(docs, path)
    // in-memory delta (LocalRelation, no file scan) so EVERY file scan in
    // the plan must be an index read — proving the corpus is not re-shingled
    val delta = Seq(
      (1000001L, "the quick brown fox jumps over the lazy dog again and again"),
      (1000002L, "a completely different sentence with no overlap at all here"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalFromIndex(spark, path, delta)
    val scans = out.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected index parquet scans in the plan")
    scans.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("text"),
        s"index-path scan reads a text column — corpus re-shingled: ${f.requiredSchema}")
      f.relation.location.rootPaths.foreach(p =>
        assert(p.toString.contains(new java.io.File(path).getName),
          s"file scan outside the stored index: $p"))
    }
  }

  test("minhash-LSH candidate generation is an equi-join, no cartesian") {
    val plan = Dedup.minHashNearDup(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in LSH plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in LSH plan:\n$plan")
  }

  test("simhash: 64-bit fingerprints, near-dup pairs are Hamming-close") {
    val fp = Dedup.simHash(docs)
    assert(fp.count() == docs.count())
    assert(fp.select(length(col("simhash"))).distinct().head().getInt(0) == 64)
    // the known near-dup pairs (J>=0.6 on shingles) must be Hamming-close
    val pairs = Dedup.minHashNearDup(docs).select("a_id", "b_id")
    val ham = pairs
      .join(fp.select(col("doc_id").as("a_id"), col("simhash").as("ha")), "a_id")
      .join(fp.select(col("doc_id").as("b_id"), col("simhash").as("hb")), "b_id")
      .withColumn("dist", expr(
        "aggregate(sequence(1, 64), 0, (acc, i) -> acc + IF(substring(ha, i, 1) = substring(hb, i, 1), 0, 1))"))
    val maxDist = ham.agg(max("dist")).head().getInt(0)
    assert(maxDist <= 16, s"near-dup pair with Hamming distance $maxDist")
  }

  test("simHashNearDup: pigeonhole banding finds exactly the all-pairs hamming<=4 set") {
    val fp = Dedup.simHash(docs)
    val truth = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", expr(
        "CAST(size(filter(sequence(1, 64), i -> substring(a.simhash, i, 1) != substring(b.simhash, i, 1))) AS BIGINT)"))
      .filter(col("hamming") <= 4)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"), col("hamming"))
    val banded = Dedup.simHashNearDup(docs)
    assert(truth.exceptAll(banded).isEmpty, "pigeonhole banding missed a true pair")
    assert(banded.exceptAll(truth).isEmpty, "verify let a far pair through")
  }

  test("clusters: min-label components, survivors, chain topology") {
    import spark.implicits._
    // components: {1,2,3} (chain), {5,6}, singleton {9}
    val verts = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val out = Dedup.clusters(verts, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0),
      (5L, 5L, 1), (6L, 5L, 0), (9L, 9L, 1)))
  }

  test("clustersTwoPhase equals clusters on near-dup-shaped pair sets") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val a = Dedup.clusters(verts, pairs)
    val b = Dedup.clustersTwoPhase(verts, pairs)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // with duplicate/reversed/self pairs thrown in — same answer
    val messy = pairs.unionByName(
      Seq((2L, 1L), (3L, 3L), (6L, 5L)).toDF("a_id", "b_id"))
    val c = Dedup.clustersTwoPhase(verts, messy)
    assert(a.exceptAll(c).isEmpty && c.exceptAll(a).isEmpty)
  }

  test("clustersTwoPhase equals converged min-label propagation on random graphs (fixed seed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(20)
      val verts = (0L until n.toLong).toDF("id")
      val pairs = (1 to n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(p => p._1 != p._2).toDF("a_id", "b_id")
      val a = Dedup.clusters(verts, pairs)
      val b = Dedup.clustersTwoPhase(verts, pairs)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"CC algorithms disagree on random graph trial $trial (n=$n)")
    }
  }

  test("clusters past the driver branch (Int ids) equals clustersTwoPhase on bigint ids (random graphs, fixed seed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 2) {
      val n = 20 + rnd.nextInt(20)
      val edges = (1 to n * 2).map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter(p => p._1 != p._2)
      val a = Dedup.clusters((0 until n).toDF("id"), edges.toDF("a_id", "b_id"))
        .select(col("id").cast("bigint"), col("cluster_id").cast("bigint"),
          col("is_survivor"))
      val b = Dedup.clustersTwoPhase((0L until n.toLong).toDF("id"),
        edges.map(p => (p._1.toLong, p._2.toLong)).toDF("a_id", "b_id"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"Int-id clusters disagrees with clustersTwoPhase on trial $trial (n=$n)")
    }
  }

  test("clustersTwoPhase converges within the Kiveris O(log n) round bound") {
    import spark.implicits._
    // the round bound is the whole point of the algorithm — pin it so a
    // regression (a broken star step that still converges, just slowly)
    // fails here instead of showing up as a silent bench cost. A 64-node
    // path is the adversarial topology (max diameter for its size); the
    // alternating star schedule must finish within ~log2(n) + slack.
    val n = 64
    val verts = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (out, rounds) = Dedup.clustersTwoPhaseWithRounds(verts, pairs)
    assert(out.filter(col("cluster_id") =!= 0L).count() == 0L)
    val bound = (math.log(n) / math.log(2)).ceil.toInt + 2 // = 8
    assert(rounds <= bound,
      s"two-phase CC took $rounds rounds on a $n-node path; bound is $bound")
    // near-dup-shaped input (tiny star components) must converge almost
    // immediately — this is the shape the bench fixture actually has
    val (_, starRounds) = Dedup.clustersTwoPhaseWithRounds(
      Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id"))
    assert(starRounds <= 3, s"tiny components took $starRounds rounds")
  }

  test("clustersTwoPhase refuses to emit labels from an unconverged edge set") {
    import spark.implicits._
    // labels are only valid at the star fixed point — a budget too small to
    // get there must fail loudly, never silently mis-cluster
    val verts = (0L until 16L).toDF("id")
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Dedup.clustersTwoPhase(verts, pairs, maxIter = 1)
    }
    assert(e.getMessage.contains("fixed point"))
  }

  test("clustersTwoPhase solves the high-diameter chain bounded-round propagation cannot") {
    import spark.implicits._
    // a 64-node path: diameter 63. Min-label propagation moves the minimum
    // one hop per round, so 15 rounds CANNOT finish it — the alternating
    // star algorithm converges in O(log n) rounds and must.
    val n = 64
    val verts = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val two = Dedup.clustersTwoPhase(verts, pairs)
    assert(two.filter(col("cluster_id") =!= 0L).count() == 0L,
      "two-phase CC failed to collapse the chain to its minimum")
    assert(two.filter(col("is_survivor") === 1).count() == 1L)
    // the DEFAULT clusters() runs exact driver-side union-find under its
    // pair-count gate — the same full-reachability semantics the recursive
    // d7 oracle replays — so it solves ANY diameter too
    val exact = Dedup.clusters(verts, pairs)
    assert(exact.filter(col("cluster_id") =!= 0L).count() == 0L,
      "gated clusters() must match exact reachability")
    // Int ids skip the driver branch: clusters() falls back to the star
    // loop, which must collapse the chain too — never stop short of it
    val intVerts = (0 until n).toDF("id")
    val intPairs = (0 until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val fallback = Dedup.clusters(intVerts, intPairs)
    assert(fallback.filter(col("cluster_id") =!= 0).count() == 0L,
      "clusters() past the driver branch failed to collapse the chain")
    assert(fallback.filter(col("is_survivor") === 1).count() == 1L)
  }

  test("blocked ngram jaccard joins only within blocks") {
    val out = Dedup.blockedNgramJaccard(docs)
    // every returned pair shares lang+source by construction; spot-check plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    val n = out.count()
    assert(n >= 0) // may be small; the oracle pins the exact set at sf0.01
  }

  test("hyperplaneSigns matches the md5 rule it documents (engine-independent)") {
    val m = Dedup.hyperplaneSigns(bits = 8, dim = 16)
    val fromSql = spark.sql(
      """SELECT b, d,
        |CASE WHEN substr(md5(concat(b, '_', d)), 1, 1) < '8' THEN 1.0D ELSE -1.0D END AS s
        |FROM (SELECT explode(sequence(0, 7)) AS b)
        |CROSS JOIN (SELECT explode(sequence(0, 15)) AS d)""".stripMargin)
      .collect()
    fromSql.foreach { r =>
      assert(m(r.getInt(0))(r.getInt(1)) == r.getDouble(2),
        s"mismatch at bit=${r.getInt(0)} dim=${r.getInt(1)}")
    }
  }

  test("verify-join gate: shuffle path (no broadcast) is result-identical for d2/d4/d6") {
    // d6 has no verify join (the 32-byte fingerprint rides the band rows),
    // but its band self-join still flips broadcast↔shuffle with the conf —
    // covered by running it under both modes parameter-free
    def run(b: Option[Boolean]): (Set[String], Set[String], Set[String]) = (
      Dedup.minHashNearDup(docs, verifyBroadcast = b).collect().map(_.toString).toSet,
      Dedup.blockedNgramJaccard(docs, verifyBroadcast = b).collect().map(_.toString).toSet,
      Dedup.simHashNearDup(docs).collect().map(_.toString).toSet)
    val broadcastPath = run(Some(true))
    // force TRUE shuffle joins: param off AND Catalyst auto-broadcast
    // disabled (at test scale the size estimator would otherwise still
    // promote the small side to broadcast on its own)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shufflePath = run(Some(false))
      assert(shufflePath == broadcastPath,
        "shuffle verify path diverged from broadcast path")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("verify-join auto gate: size estimate vs cap picks the physical path") {
    val sets = docs.select(col("doc_id").as("id"),
      split(col("text"), " ").as("sh"))
    // small corpus under the default 128 MB cap → broadcast
    assert(Dedup.resolveVerifyBroadcast(sets, None),
      "test-scale doc-set should auto-pick the broadcast path")
    // a 100 TB corpus — modeled by a tiny cap — flips to the shuffle path
    // with NO caller knowledge, and the explicit parameter still overrides
    spark.conf.set(Dedup.VerifyBroadcastMaxBytes, "1")
    try {
      assert(!Dedup.resolveVerifyBroadcast(sets, None),
        "above-cap doc-set must auto-pick the shuffle path")
      assert(Dedup.resolveVerifyBroadcast(sets, Some(true)),
        "explicit parameter must override the auto gate")
    } finally spark.conf.unset(Dedup.VerifyBroadcastMaxBytes)
  }

  test("embedding LSH near-dup: full recall of the planted perturbed pairs") {
    val fixture = Dedup.withPerturbedCopy(emb)
    val out = Dedup.embeddingNearDup(fixture)
    val n = emb.count()
    // exactly one partner per original vector: (v, v+offset)
    assert(out.count() == n, s"expected $n planted pairs, got ${out.count()}")
    val wrong = out.filter(col("b_id") =!= col("a_id") + 100000L).count()
    assert(wrong == 0, "non-planted pair passed the 0.99 cosine verify")
    val minCos = out.agg(min("cosine")).head().getDouble(0)
    assert(minCos >= 0.999, s"planted pair cosine unexpectedly low: $minCos")
  }

  test("exactSubstringDedup: cross-doc and within-doc duplicate runs stripped, unique text intact") {
    import spark.implicits._
    val run = (1 to 15).map(i => s"dup$i").mkString(" ") // 15-token shared run
    val fixture = Seq(
      (1L, s"alpha beta $run gamma"),
      (2L, s"delta $run epsilon zeta"),
      (3L, "totally unique words that never repeat anywhere in this corpus at all today"),
      (4L, "short doc"),
      (5L, s"selfrep $run and again $run end")) // within-doc repeat too
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(fixture).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 3: nothing duplicated — reassembly hash equals the original text
    assert(out(3L).getLong(3) == 0)
    assert(out(3L).getString(1) ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("totally unique words that never repeat anywhere in this corpus at all today".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    // doc 4: shorter than the window — passes through untouched
    assert(out(4L).getLong(3) == 0 && out(4L).getLong(2) == 2)
    // docs 1/2: the 15 shared tokens are covered in both (windows crossing
    // into unique context stay unique, so ONLY the shared run is removed)
    assert(out(1L).getLong(3) == 15L, s"doc1 removed ${out(1L).getLong(3)}")
    assert(out(2L).getLong(3) == 15L, s"doc2 removed ${out(2L).getLong(3)}")
    // doc 5: both occurrences of the run are covered
    assert(out(5L).getLong(3) >= 30L, s"doc5 removed ${out(5L).getLong(3)}")
    // determinism
    val again = Dedup.exactSubstringDedup(fixture).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keys.forall(k => out(k).getString(1) == again(k)))
  }

  test("semDedup: planted semantic dups grouped, exactly one kept per group, outlier-keep rule") {
    val fixture = Dedup.withPerturbedCopy(emb)
    val out = Dedup.semDedup(fixture).cache()
    val n = emb.count()
    // every input id appears exactly once
    assert(out.count() == 2 * n && out.select("id").distinct().count() == 2 * n)
    // recall: most planted (i, i+100000) pairs share a group (they can only
    // be missed when k-means assigns the pair to different cells)
    val paired = out.as("a")
      .join(out.as("b"), col("a.id") + 100000L === col("b.id") &&
        col("a.group_id") === col("b.group_id"))
      .count()
    assert(paired >= (n * 9) / 10, s"semantic recall too low: $paired of $n planted pairs grouped")
    // exactly one kept member per group
    val badGroups = out.groupBy("group_id")
      .agg(sum("is_kept").as("k")).filter(col("k") =!= 1).count()
    assert(badGroups == 0, s"$badGroups groups do not keep exactly one member")
    // keep rule: within a multi-member group the kept member has the
    // group-minimal (cos_centroid_micro, id) — the least-prototypical one
    val viol = out.as("x").join(out.as("y"),
        col("x.group_id") === col("y.group_id") && col("x.is_kept") === 1 &&
          (col("y.cos_centroid_micro") < col("x.cos_centroid_micro") ||
            (col("y.cos_centroid_micro") === col("x.cos_centroid_micro") &&
              col("y.id") < col("x.id"))))
      .count()
    assert(viol == 0, "a kept member is not its group's (cos, id)-minimum")
    // determinism: a rerun reproduces the result exactly
    val again = Dedup.semDedup(fixture)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("hot-bucket guard: planted 1000-doc duplicate cluster stays under the candidate budget and connected") {
    // 1000 identical vectors — the boilerplate-cluster worst case: every row
    // lands in the SAME bucket in every band, so the unguarded self-join is
    // bands * C(1000, 2) ≈ 9.0M joined rows and grows quadratically.
    val n = 1000
    val cap = 50
    val cluster = spark.range(n).select(
      col("id"), expr("transform(sequence(1, 64), i -> 0.5D + 0.001D * i)").as("v"))
    val banded = Dedup.signBands(cluster, 72, 18, 64)
    val maxBucket = banded.groupBy("band", "key").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket == n, s"fixture should collapse to one bucket per band, max=$maxBucket")

    val capped = Dedup.capBuckets(banded, cap)
    // every sub-bucket is ~cap (3x slack for salt-hash imbalance)
    val maxSub = capped.groupBy("band", "key").count()
      .agg(max("count")).head().getLong(0)
    assert(maxSub <= 3L * cap, s"sub-bucket $maxSub exceeds 3x cap $cap")
    val joined = capped.as("x").join(capped.as("y"),
      col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.id") < col("y.id"))
    val candRows = joined.count()
    // the budget: linear bands*n*cap, not quadratic bands*C(n,2)
    assert(candRows <= 18L * n * cap,
      s"candidate volume $candRows exceeds the linear budget ${18L * n * cap}")
    assert(candRows * 10 < 18L * n.toLong * (n - 1) / 2,
      "guard saved less than 10x vs the quadratic join")

    // cross-band salt independence keeps the cluster CONNECTED: the
    // component/survivor step must still see ONE cluster, ONE survivor
    val pairs = joined
      .select(col("x.id").as("a_id"), col("y.id").as("b_id")).distinct()
    val cl = Dedup.clusters(cluster.select("id"), pairs)
    assert(cl.select("cluster_id").distinct().count() == 1,
      "sub-salting split the duplicate cluster into multiple components")
    assert(cl.filter(col("is_survivor") === 1).count() == 1)
  }

  test("capBuckets preserves the row multiset — only bucket keys change") {
    // the guard must never drop or duplicate a banded row, whatever the
    // skew: salting rewrites `key`, nothing else
    val skewed = spark.range(300).select(
      col("id"),
      lit(0).as("band"),
      // 250 rows share one hot key; 50 spread across cold keys
      when(col("id") < 250, lit("hot")).otherwise(concat(lit("c"), col("id"))).as("key"))
    val capped = Dedup.capBuckets(skewed, cap = 40)
    assert(capped.count() == 300, "row count changed")
    assert(capped.select("id").distinct().count() == 300, "ids dropped or duplicated")
    assert(capped.columns.toSet == skewed.columns.toSet,
      "column set changed (order may differ: the guard's join keys lead)")
    // cold keys untouched bit-for-bit; hot key fanned into sub-buckets
    assert(capped.filter(col("key").startsWith("c")).count() == 50)
    val hotKeys = capped.filter(col("key").startsWith("hot")).select("key").distinct().count()
    assert(hotKeys >= 5 && hotKeys <= 7, s"expected ~ceil(250/40)=7 sub-buckets, got $hotKeys")
  }

  test("hot-bucket guard is the identity while no bucket exceeds the cap (d2/d5/d6 defaults)") {
    // at spec scale every bucket is far under DefaultBucketCap, so the
    // default-capped pipelines must be bit-identical to the uncapped ones
    val d2c = Dedup.minHashNearDup(docs)
    val d2u = Dedup.minHashNearDup(docs, bucketCap = Int.MaxValue)
    assert(d2c.exceptAll(d2u).isEmpty && d2u.exceptAll(d2c).isEmpty,
      "default-capped d2 diverged from uncapped")
    val d6c = Dedup.simHashNearDup(docs)
    val d6u = Dedup.simHashNearDup(docs, bucketCap = Int.MaxValue)
    assert(d6c.exceptAll(d6u).isEmpty && d6u.exceptAll(d6c).isEmpty,
      "default-capped d6 diverged from uncapped")
    val fixture = Dedup.withPerturbedCopy(emb)
    val d5c = Dedup.embeddingNearDup(fixture)
    val d5u = Dedup.embeddingNearDup(fixture, bucketCap = Int.MaxValue)
    assert(d5c.exceptAll(d5u).isEmpty && d5u.exceptAll(d5c).isEmpty,
      "default-capped d5 diverged from uncapped")
  }

  test("imageNearDup: every planted perturbed copy pairs with its source; corrupt bytes quarantine") {
    import spark.implicits._
    val media = spark.range(200).select(
      col("id").as("media_id"),
      graft.operators.Multimodal.encodeTexturePngFixture(col("id")).as("content"))
    val pairs = Dedup.imageNearDup(media).cache()
    // planted: every id%5==4 is a ~3%-pixel-perturbed copy of id-1 — the
    // dHash must place ALL of them within the hamming budget
    val planted = pairs.filter(
      col("b_media_id") === col("a_media_id") + 1 && col("b_media_id") % 5 === 4)
    assert(planted.count() == 40, // ids 4,9,...,199
      s"expected all 40 planted copies paired, got ${planted.count()}")
    assert(pairs.filter(col("hamming") > 4).count() == 0)
    // equality with the brute-force all-pairs answer over the same hashes
    // (pigeonhole completeness on real decoded images)
    val fp = media.select(col("media_id"),
      graft.operators.Multimodal.dHash(col("content")).as("h"))
    val brute = fp.as("a").join(fp.as("b"), col("a.media_id") < col("b.media_id"))
      .withColumn("hamming", expr(
        "CAST(size(filter(sequence(1, 64), i -> substring(a.h, i, 1) != substring(b.h, i, 1))) AS BIGINT)"))
      .filter(col("hamming") <= 4)
      .select(col("a.media_id").as("a_media_id"),
        col("b.media_id").as("b_media_id"), col("hamming"))
    assert(pairs.exceptAll(brute).isEmpty && brute.exceptAll(pairs).isEmpty,
      "banded image pairing diverges from brute force")
    // quarantine: undecodable bytes yield no fingerprint, no pairs, no crash
    val junk = Seq((900L, Array[Byte](1, 2, 3)), (901L, Array[Byte]()))
      .toDF("media_id", "content")
    assert(Dedup.imageNearDup(media.unionByName(junk)).count() == pairs.count())
  }

  test("videoNearDup: planted shifted reposts found at offset -1; equals brute-force alignment; junk quarantines") {
    import spark.implicits._
    val frames = spark.range(200).filter(col("id") % 2 === 0)
      .select(col("id").as("video_id"),
        explode(expr("sequence(0, 4)")).as("frame_idx"))
      .select(col("video_id"), col("frame_idx"),
        graft.operators.Multimodal.encodeVideoFrameFixture(
          col("video_id"), col("frame_idx")).as("content"))
    val pairs = Dedup.videoNearDup(frames).cache()
    // planted: every id%10==8 is a one-frame-trimmed perturbed repost of
    // id-2 — 4 of its 5 frames align at offset -1 within the hamming budget
    val planted = pairs.filter(
      col("b_video_id") === col("a_video_id") + 2 && col("b_video_id") % 10 === 8)
    assert(planted.count() == 20, // ids 8,18,...,198
      s"expected all 20 planted reposts paired, got ${planted.count()}")
    assert(planted.filter(col("best_offset") =!= -1 || col("matched_frames") =!= 4)
      .count() == 0, "planted repost scored at wrong offset or match count")
    // equality with brute-force all-pairs alignment over the same hashes
    // (pigeonhole completeness at the video level), scored independently
    // via per-character bitstring compares
    val fp = frames.select(col("video_id"), col("frame_idx"),
      graft.operators.Multimodal.dHash(col("content")).as("h"))
    val seqs = fp.groupBy("video_id").agg(
      expr("transform(sort_array(collect_list(struct(frame_idx, h))), e -> e.h)").as("hs"))
    val brute = seqs.as("a").join(seqs.as("b"), col("a.video_id") < col("b.video_id"))
      .withColumn("scores", expr(
        """transform(sequence(-2, 2), o ->
             size(filter(sequence(0, size(a.hs) - 1), f ->
               f + o >= 0 AND f + o < size(b.hs) AND
               size(filter(sequence(1, 64), i ->
                 substring(element_at(a.hs, f + 1), i, 1) !=
                 substring(element_at(b.hs, f + o + 1), i, 1))) <= 4)))"""))
      .withColumn("matched_frames", expr("CAST(array_max(scores) AS BIGINT)"))
      .filter(col("matched_frames") >= 3)
      .withColumn("best_offset", expr(
        "CAST(element_at(filter(sequence(-2, 2), o -> element_at(scores, o + 3) = array_max(scores)), 1) AS BIGINT)"))
      .select(col("a.video_id").as("a_video_id"), col("b.video_id").as("b_video_id"),
        col("best_offset"), col("matched_frames"))
    assert(pairs.exceptAll(brute).isEmpty && brute.exceptAll(pairs).isEmpty,
      "banded video pairing diverges from brute-force alignment")
    // quarantine: an all-corrupt video contributes no fingerprints, no pairs
    val junk = Seq((901L, 0, Array[Byte](9, 9)), (901L, 1, Array[Byte]()))
      .toDF("video_id", "frame_idx", "content")
    assert(Dedup.videoNearDup(frames.unionByName(junk)).count() == pairs.count())
    // PARTIAL corruption quarantines the WHOLE video: a decode hole would
    // compact the sequence and shift alignment positions, so the id drops
    // entirely — here video 8 (a planted repost of 6) loses one frame and
    // with it its pair, while every other pair survives untouched
    val oneBad = frames
      .withColumn("content",
        when(col("video_id") === 8 && col("frame_idx") === 2,
          lit(Array[Byte](9, 9))).otherwise(col("content")))
    val q = Dedup.videoNearDup(oneBad).cache()
    assert(q.filter(col("a_video_id") === 8 || col("b_video_id") === 8)
      .count() == 0, "partially-corrupt video must not pair")
    val v8 = pairs.filter(col("a_video_id") === 8 || col("b_video_id") === 8).count()
    assert(v8 >= 1, "fixture must plant at least the (6, 8) pair")
    assert(q.count() == pairs.count() - v8,
      "quarantining one video must not disturb other pairs")
  }

  test("audioNearDup: planted trimmed reposts found at offset -1; junk quarantines") {
    import spark.implicits._
    val media = spark.range(200).filter(col("id") % 2 === 1)
      .select(col("id").as("audio_id"),
        graft.operators.Multimodal.encodeAudioFixture(col("id")).as("content"))
    val pairs = Dedup.audioNearDup(media).cache()
    // planted: every id%10==3 is a one-frame-trimmed perturbed repost of
    // id-2 — 5 of its 6 frames align at offset -1 within the hamming budget
    val planted = pairs.filter(
      col("b_audio_id") === col("a_audio_id") + 2 && col("b_audio_id") % 10 === 3)
    assert(planted.count() == 20, // ids 3,13,...,193
      s"expected all 20 planted reposts paired, got ${planted.count()}")
    assert(planted.filter(col("best_offset") =!= -1 || col("matched_frames") =!= 5)
      .count() == 0, "planted repost scored at wrong offset or match count")
    assert(pairs.count() == planted.count(),
      "unplanted audio pairs must not qualify")
    // frame hashes: 6 frames of 64 bits per decodable blob
    val hashed = media.select(
      posexplode(graft.operators.Multimodal.audioFrameHashes(
        col("content"), lit(64), lit(4))).as(Seq("f", "h")))
    assert(hashed.count() == media.count() * 6)
    assert(hashed.filter(length(col("h")) =!= 64).count() == 0)
    // quarantine: undecodable bytes yield no fingerprints, no pairs
    val junk = Seq((901L, Array[Byte](9, 9, 9)), (903L, Array[Byte]()))
      .toDF("audio_id", "content")
    assert(Dedup.audioNearDup(media.unionByName(junk)).count() == pairs.count())
  }

  test("paragraphDedup: first occurrence survives, later repeats drop, reassembly ordered") {
    import spark.implicits._
    val sep = "\n\n"
    val fixture = Seq(
      (1L, s"alpha body one${sep}shared footer"),
      (2L, s"beta body two${sep}shared footer${sep}beta tail"),
      (3L, s"shared footer"), // all boilerplate once deduped
      (4L, s"gamma body${sep}gamma body") // intra-doc repeat: second drops
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // doc 1 owns the first "shared footer" -> keeps both paragraphs
    assert(out(1L) == ((2L, 2L, md5(s"alpha body one${sep}shared footer"))))
    // doc 2 loses only the footer, keeps order body->tail
    assert(out(2L) == ((3L, 2L, md5(s"beta body two${sep}beta tail"))))
    // doc 3 is pure boilerplate -> empty reassembly ("" not null)
    assert(out(3L) == ((1L, 0L, md5(""))))
    // intra-document repeat also deduped (position ordinal breaks the tie)
    assert(out(4L) == ((2L, 1L, md5("gamma body"))))
  }
}
