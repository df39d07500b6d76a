package graft
import graft.core.{Engine, Memo}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(
      master = Some(s"local[$cpus]"), shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF=k=v,k=v applies session confs before anything runs —
    // profiling aid (e.g. spark.graft.stream.stateStore=rocksdb to A/B the
    // state-store backend without a code change)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k, v)
        case _ => ()
      }
    })
    // SPARK_GRAFT_ONLY=a1_x,st2_y benches a subset — profiling aid, same
    // contract as Verify's filter. Resolved before the warmups so a subset
    // run only pays the warmup classes it will actually time.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_REVERSE=1 runs the queries in reverse order — the
    // attribution probe BASELINE.md prescribes for late-run inflation: if a
    // block is slow only when it runs late, the cause is session/machine
    // state, not the queries (fast-in-reverse == position-dependent).
    val ordered = SparkEntry.entries.toSeq.sortBy(_._1)
    val selected = (if (sys.env.get("SPARK_GRAFT_REVERSE").contains("1"))
      ordered.reverse else ordered)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Data-contract smoke check (same as Verify): one loud [contract] line
    // per input-schema drift, before any timing, so a testdata regeneration
    // is ONE diagnostic instead of a page of scattered failures.
    graft.core.Tables.contractDiagnostics(spark, sfDir)
      .foreach(System.err.println)
    // JVM/codegen warmup outside the timed region so the first query's
    // number measures the query, not classloading
    spark.range(1000000).selectExpr("sum(id)").collect()
    // one untimed real query warms the parquet reader, agg/join codegen and
    // broadcast machinery — otherwise the alphabetically-first entry pays
    // all of it (a10 measured ~3x its repeat-run time)
    try SparkEntry.queries.get("a11_order_cube")
      .foreach(fn => fn(spark, sfDir).count())
    catch { case _: Throwable => () }
    // likewise one untimed streaming replay IF any streaming entry is
    // selected: the first streaming entry otherwise pays ~3-4s of one-time
    // cost (micro-batch engine + state store classloading/JIT, and the
    // staged multi-file source write) that belongs to none of the entries;
    // after this, each st* number is the steady-state marginal cost of its
    // own replay
    if (selected.exists(_._1.startsWith("st")))
      try SparkEntry.queries.get("st1_events_hourly_stream")
        .foreach(fn => fn(spark, sfDir).count())
      catch { case _: Throwable => () }
    // the selected entries' ingest-time artifacts (staged tables, indexes,
    // media blobs), each built once and untimed, so every entry times the
    // operation it models, not the artifact build. A failing build is
    // fatal: swallowing it would silently move the build into the timed
    // region of the first entry that reads the artifact.
    selected.flatMap(_._2.staged).distinct.foreach(_.get((spark, sfDir)))
    // Deterministic order (hash-Map order varied run to run) and a cold
    // cache per query: otherwise first-touch parquet footer reads and
    // persisted RDDs shared across entries land on whichever query happens
    // to run first, making per-query numbers unattributable across rounds.
    // SPARK_GRAFT_COLD=1 drops every memo (Engine.releaseCachedState) before
    // every entry, measuring each as a standalone rebuild; default keeps
    // them. Either way an entry is listed in "memo_warm" when its timed call
    // was served at least one value an earlier call had built (Memo.hits).
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    // Per-query JVM probes (stderr, one JSON object per line): elapsed
    // wall-clock since the JVM started, used heap, and CUMULATIVE GC
    // time/count. Purpose: attribute run-to-run total variance — a run
    // inflated by session-state/GC pressure shows gc_ms growing in step
    // with the inflation; a run inflated by machine contention (co-tenant
    // CPU steal, cold page cache) shows flat GC with wall-time growth.
    // Round 7's driver-vs-builder 181 s-vs-92.6 s discrepancy is the
    // motivating case — see BASELINE.md "Bench run-to-run variance".
    // Stderr only: the stdout contract line is unchanged.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcNow(): (Long, Long) = {
      var ms = 0L; var n = 0L
      gcBeans.forEach { b =>
        ms += math.max(0L, b.getCollectionTime); n += math.max(0L, b.getCollectionCount)
      }
      (ms, n)
    }
    val jvmT0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var sinceGc = 0
    // One timed call, preceded by the untimed per-query isolation. Returns
    // the elapsed seconds (None if the entry threw) and whether any memo hit
    // served the call.
    def timed(name: String, entry: SparkEntry.Entry): (Option[Double], Boolean) = {
      spark.catalog.clearCache()
      // checkpoint/persist blocks aren't touched by clearCache and are only
      // GC'd lazily via ContextCleaner — cold runs unpersist them eagerly
      // with the memos, so dead blocks don't skew later entries
      if (cold) Engine.releaseCachedState(spark)
      // Dead-checkpoint reaping (untimed): per-query localCheckpoint blocks
      // are reclaimed by the ContextCleaner only after driver GC collects
      // the dead RDD objects — and on a large-heap box GC may never run
      // (the r8 forward/reverse probe runs pinned this: late-block queries
      // inflated 4-10x with ZERO gc_ms delta while used-heap climbed
      // monotonically; the same queries were fast when run early). Forcing
      // a periodic GC lets the cleaner release those blocks so storage
      // pressure from query N's debris can't tax query N+1's execution
      // memory. Memoized checkpoints (d2/d7 pairs etc.) stay referenced and
      // therefore stay persisted.
      sinceGc += 1
      if (sinceGc >= 8) { System.gc(); sinceGc = 0 }
      // label the query's jobs (guide §1.5) so event-log/UI profiling can
      // attribute stages to entries; thread-local, cleared after the run
      spark.sparkContext.setJobDescription(s"bench:$name")
      val hits0 = Memo.hits
      val t0 = System.nanoTime()
      val ok = try { entry.run(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      (Some(sec).filter(_ => ok), Memo.hits > hits0)
    }
    val results = selected.map { case (name, entry) =>
      val (sec, warm) = timed(name, entry)
      val (gcMs, gcN) = gcNow()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      val sinceStart = (System.currentTimeMillis() - jvmT0) / 1e3
      val nPersist = spark.sparkContext.getPersistentRDDs.size
      System.err.println(
        s"""[bench-probe] {"q":"$name","t_s":${sec.getOrElse(-1.0)},"since_start_s":$sinceStart,""" +
          s""""heap_used_mb":$heapMb,"gc_ms":$gcMs,"gc_count":$gcN,"persistent_rdds":$nPersist}""")
      (name, sec, warm)
    }
    def jsonList(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a failed key is null, never a timing: it is listed in "failed", left
    // out of the total and the minima, and the run exits non-zero
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v.getOrElse("null") }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // Min-of-N protocol for the round's watch list (BASELINE.md variance
    // band): queries whose round-over-round ratio has exceeded the 1.3x
    // band get 2 extra timed repeats here, and the reported minimum
    // (including the main-loop run) is the number comparable across rounds
    // — one honest per-query floor instead of re-litigating band noise
    // every round. Repeats follow the main loop's exact protocol (cache
    // clear + periodic GC); the headline total does NOT include them.
    // Override the set with SPARK_GRAFT_MINIMA=q1,q2 (empty string = none).
    val firstRun = results.collect { case (k, Some(v), _) => k -> v }.toMap
    // FENCE-WARM replay keys are EXCLUDED from the re-timed minima
    // (round-15 floor hygiene, prescribed by the r14 verdict): these
    // entries re-run a streamed ingest/absorb loop whose `batch=b<id>`
    // fences all hit on a same-session repeat, so every absorb no-ops and
    // the "minimum" measures a fence check, not the entry (r13's st11
    // 0.54 s phantom floor — 6x under the honest first-run — was exactly
    // this hole). Their first-run number IS their honest figure; a real
    // floor would need the staged artifact re-staged per repeat.
    val fenceWarmReplay = Set(
      "st8_upsert_sink", "st9_running_mv", "st11_index_maintain",
      "st15_vector_index_maintain", "st16_bm25_index_maintain",
      "st17_heavy_hitters_maintain", "st19_cluster_maintain",
      "st20_hier_index_maintain", "st21_cdf_consumer",
      "st22_cdc_replica", "st23_streamed_takedown")
    // ADAPTIVE watch list (round-11 hardening): machine class and run
    // position shifted whole blocks by 1.5-2x between rounds (fresh-VM cold
    // page cache, late-run session state — the r8 forward/reverse probe),
    // so a hardcoded name list can't keep up. Default = the 8 slowest
    // first-run queries THIS run (where absolute noise concentrates) plus
    // the carried per-round watch items, minus the fence-warm replays;
    // every name gets 2 repeats and the reported min is the
    // cross-round-comparable floor.
    val watchlist = sys.env.get("SPARK_GRAFT_MINIMA")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse {
        val slowest = firstRun.toSeq.sortBy(-_._2).take(8).map(_._1).toSet
        (slowest ++ Set(
          "a24_heavy_hitters", "k8_ivfpq_topk", "d13_cc_twophase",
          "x20_importance_select", "p6_dsir_pipeline"))
          .diff(fenceWarmReplay)
      }
    val repeatFailed = scala.collection.mutable.LinkedHashSet[String]()
    val minima = selected.collect {
      case (name, entry) if watchlist.contains(name) && firstRun.contains(name) =>
        val reps = (1 to 2).map(_ => timed(name, entry)._1)
        if (reps.contains(None)) repeatFailed += name
        val runs = firstRun(name) +: reps.flatten
        System.err.println(
          s"""[bench-minima] {"q":"$name","min_s":${runs.min},"runs":[${runs.mkString(",")}]}""")
        name -> runs.min
    }
    val minimaJson = minima.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val warm = jsonList(results.collect { case (k, _, true) => k }.sorted)
    val failed = jsonList(
      (results.collect { case (k, None, _) => k } ++ repeatFailed).distinct)
    // Headline total LAST: the driver captures a bounded TAIL of stdout, so
    // anything near the front of a long line can be truncated away (round 5
    // lost a10 + the total). Belt-and-braces, the same JSON also goes to a
    // file the driver/judge can read whole.
    val json =
      s"""{"metric":"total","unit":"sec","queries":$qs,"memo_warm":$warm,"minima":$minimaJson,"failed":$failed,"sf":"$sfDir","value":$total}"""
    println(json)
    // a SPARK_GRAFT_ONLY subset run must not clobber the repo's full-run
    // headline artifact with a partial total — divert to BENCH.subset.json
    // unless the caller named an output explicitly
    val defaultOut = if (only.isDefined) "BENCH.subset.json" else "BENCH.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    spark.stop()
    if (failed != "[]") sys.exit(1)
  }
}
