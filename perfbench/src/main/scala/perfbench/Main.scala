package perfbench

import java.nio.file.{Files, Path}

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <record dir>
  * }}}
  *
  * A run starts the session users get (`Engine.session` on `local[nproc]`),
  * generates the inputs (three times; the median generation time counts in
  * `setup_s` and the three digests must agree), warms up, then measures one
  * pass with tracing off. With `--trace 1` it then resets the workload's
  * state and measures a traced pass, then once more an untraced one; the
  * per-layer record comes from the traced pass and `trace.overhead_pct`
  * compares its wall time with the mean of the two untraced passes. The
  * last stdout line is the result object; the exit code is 1 when any check
  * failed.
  */
object Main {

  val Workloads = Seq("table_churn", "dedup_search", "http_mixed")

  /** Spans recorded around calls into each layer. */
  val SpanNames = Seq(
    "core.commit", "core.merge", "core.deleteRows", "core.optimize", "core.readPruned", "core.read",
    "operators.semDedup", "operators.knnGraph", "operators.minHashNearDup",
    "operators.clustersTwoPhase", "operators.bm25TopK", "operators.topKCosine")
  val OperatorSpans: Set[String] = SpanNames.filter(_.startsWith("operators.")).toSet
  val HttpRoutes = Seq("clickhouse-to-flatfile", "get-columns", "connect-clickhouse", "health")
  val CoreCounts = Seq(
    "core.merge.files_scanned_ratio" -> "ratio", "core.deleteRows.files_scanned_ratio" -> "ratio",
    "core.optimize.files_in" -> "count", "core.optimize.files_out" -> "count",
    "core.live_files" -> "count", "core.manifest_kb" -> "KB", "core.bytes_written_mb" -> "MB")
  val DetailMetrics = Seq(
    "table_churn.write_p50_ms" -> "ms", "table_churn.write_p90_ms" -> "ms",
    "table_churn.read_p50_ms" -> "ms", "table_churn.read_p90_ms" -> "ms",
    "table_churn.space_amp" -> "ratio",
    "dedup_search.semdedup_vecs_per_s" -> "1/s", "dedup_search.knn_vecs_per_s" -> "1/s",
    "dedup_search.neardup_docs_per_s" -> "1/s", "dedup_search.search_queries_per_s" -> "1/s",
    "http_mixed.http_p50_ms" -> "ms", "http_mixed.http_p90_ms" -> "ms")

  /** Typical latency of one operation: the median latency of each
    * operation name, averaged with every name weighted equally, so the
    * figure does not depend on how often the workload's pattern repeats a
    * name. (A plain median of the mixture would sit in the gap between two
    * names' latencies and jump between them.)
    */
  def opMs(rec: Recorder): Double = {
    val names = rec.keys.filter(_.contains(':')).map(rec.latencies)
    if (names.isEmpty) 0.0 else names.map(Util.median).sum / names.size
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = arg(args, "trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    val work = Path.of(arg(args, "work")).toAbsolutePath
    val out = Path.of(arg(args, "out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)
    val ok = run(workload, seed, seconds, trace, work, out)
    sys.exit(if (ok) 0 else 1)
  }

  private def run(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path): Boolean = {
    val nproc = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.core.Engine.session(master = Some(s"local[$nproc]"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    var wl: Workload = null
    try {
      spark.sparkContext.setLogLevel("WARN")
      val tracer = new Tracer(spark)
      val ctx = Ctx(spark, tracer, seed, seconds, work)
      wl = workload match {
        case "table_churn" => new TableChurn(ctx)
        case "dedup_search" => new DedupSearch(ctx)
        case "http_mixed" => new HttpMixed(ctx)
      }
      val issues = scala.collection.mutable.ArrayBuffer.empty[String]

      val gens = (1 to 3).map { _ =>
        val g0 = System.nanoTime()
        val h = wl.generate()
        (h, (System.nanoTime() - g0) / 1e9)
      }
      val digest = gens.head._1
      if (gens.exists(_._1 != digest))
        issues += s"input generation is not deterministic: ${gens.map(_._1).distinct}"
      val genS = Util.median(gens.map(_._2))
      val w0 = System.nanoTime()
      wl.prepare()
      val warm = new Recorder
      wl.warmUp(warm)
      issues ++= warm.issues.map("warm-up: " + _)
      wl.prepare()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + genS + warmS
      println(f"inputs sha256=$digest seed=$seed")
      println(f"setup: session $sessionS%.3f s + generation $genS%.3f s (median of 3) + warm-up $warmS%.3f s")
      warm.keys.filter(_.contains(':')).foreach { k =>
        println(f"  warm-up $k%-26s ${warm.latencies(k).map(x => f"$x%.0f").mkString(" ")} ms")
      }

      val rec = new Recorder
      val p0 = System.nanoTime()
      wl.run(rec)
      val wallS = (System.nanoTime() - p0) / 1e9
      wl.verify(rec)
      issues ++= rec.issues
      val completed = rec.attempted - rec.failed
      val detail = wl.detail(rec)
      val retainedMb = Util.retainedMb()

      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", completed / wallS, "1/s"),
        ("op_ms", opMs(rec), "ms"),
        ("retained_mb", retainedMb, "MB"))

      var attempted = warm.attempted + rec.attempted
      var failed = warm.failed + rec.failed
      val metrics: Seq[(String, Double, String)] =
        if (!trace) endToEnd
        else {
          wl.prepare()
          val recT = new Recorder
          tracer.start()
          val q0 = System.nanoTime()
          wl.run(recT)
          val wallT = (System.nanoTime() - q0) / 1e9
          tracer.stop()
          val counts = wl.layerCounts()
          wl.verify(recT)
          issues ++= recT.issues.map("traced pass: " + _)
          attempted += recT.attempted
          failed += recT.failed
          // an untraced pass after the traced one: their mean cancels the
          // speed-up later passes get from a warmer JVM
          wl.prepare()
          val recC = new Recorder
          val c0 = System.nanoTime()
          wl.run(recC)
          val wallC = (System.nanoTime() - c0) / 1e9
          wl.verify(recC)
          issues ++= recC.issues.map("second untraced pass: " + _)
          attempted += recC.attempted
          failed += recC.failed
          val untraced = (wallS + wallC) / 2
          Files.write(out.resolve("spans.jsonl"),
            tracer.spanLines().mkString("", "\n", "\n").getBytes("UTF-8"))
          val layers = tracer.report(SpanNames, OperatorSpans, recT.attempted)
          val http = HttpRoutes.flatMap { r =>
            val d = tracer.durationsMs(s"http.$r")
            Seq((s"http.$r.p50_ms", if (d.isEmpty) 0.0 else Util.median(d), "ms"),
              (s"http.$r.count", d.size.toDouble, "count"))
          }
          def fill(names: Seq[(String, String)], got: Seq[(String, Double, String)]) = {
            val m = got.map(t => t._1 -> t._2).toMap
            names.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
          }
          val all = layers ++ Seq(("jvm.peak_rss_mb", Util.peakRssMb(), "MB")) ++ http ++
            fill(CoreCounts, counts) ++
            Seq(("trace.overhead_pct", (wallT - untraced) / untraced * 100.0, "%")) ++
            fill(DetailMetrics, detail)
          println(f"traced pass: $wallT%.3f s vs untraced $wallS%.3f s before and $wallC%.3f s after")
          all
        }

      println(f"run: ${rec.attempted} operations in $wallS%.3f s, ${rec.failed} failed")
      rec.keys.foreach { k =>
        val xs = rec.latencies(k)
        println(f"  $k%-34s n=${xs.size}%4d p50=${Util.median(xs)}%10.2f ms" +
          f"  p90=${Util.quantile(xs, 0.9)}%10.2f ms")
      }
      detail.foreach { case (n, v, u) => println(f"  $n%-40s $v%14.4f $u") }
      issues.foreach(i => println(s"ISSUE: $i"))

      val correct = issues.isEmpty
      def values(ms: Seq[(String, Double, String)]) =
        ms.map { case (n, v, _) => s"${Util.jsonStr(n)}: ${Util.jsonNum(v)}" }.mkString("{", ", ", "}")
      val metricJson = metrics.map { case (n, v, u) =>
        s"${Util.jsonStr(n)}: {\"value\": ${Util.jsonNum(v)}, \"unit\": ${Util.jsonStr(u)}}"
      }.mkString("{", ", ", "}")
      val line = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}"""
      val record =
        s"""{"workload": ${Util.jsonStr(workload)}, "seed": $seed, "seconds": $seconds, """ +
          s""""trace": $trace, "inputs_sha256": "$digest", "setup_s": $setupS, """ +
          s""""session_s": $sessionS, "generation_s": $genS, "warmup_s": $warmS, "wall_s": $wallS, """ +
          s""""samples": ${rec.keys.map(k => s"${Util.jsonStr(k)}: ${rec.latencies(k).size}").mkString("{", ", ", "}")}, """ +
          s""""p50_ms": ${rec.keys.map(k => s"${Util.jsonStr(k)}: ${Util.median(rec.latencies(k))}").mkString("{", ", ", "}")}, """ +
          s""""end_to_end": ${values(endToEnd)}, "detail": ${values(detail)}, """ +
          s""""issues": ${issues.map(Util.jsonStr).mkString("[", ", ", "]")}, "result": $line}"""
      Files.write(out.resolve("record.json"), (record + "\n").getBytes("UTF-8"))
      println(line)
      correct
    } finally {
      if (wl != null) wl.close()
      graft.core.Engine.shutdown(spark)
    }
  }
}
