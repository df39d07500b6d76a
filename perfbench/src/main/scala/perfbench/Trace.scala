package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Operation accounting for one measured pass: every operation counts as
  * attempted; one that throws or overruns `timeoutMs` counts as failed and
  * adds no latency sample. Wrong answers are recorded separately by
  * [[check]] and make the run incorrect. Thread-safe (the HTTP workload
  * records from two client threads).
  */
final class Recorder(timeoutMs: Long = 60000L) {
  private val samples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  private var nAttempted = 0L
  private var nFailed = 0L
  private val problems = ArrayBuffer.empty[String]

  /** Times `body` as one operation of kind `kind` ("write" or "read") and
    * name `name`; None when it threw or timed out.
    */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val ms = Util.ms(System.nanoTime() - t0)
    r match {
      case Right(v) => if (sample(kind, name, ms)) Some(v) else None
      case Left(e) => fail(name, e.toString); None
    }
  }

  /** One operation the caller timed itself; false when it overran. */
  def sample(kind: String, name: String, ms: Double): Boolean = synchronized {
    nAttempted += 1
    if (ms <= timeoutMs) {
      samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
      samples.getOrElseUpdate(s"$kind:$name", ArrayBuffer.empty) += ms
      true
    } else {
      nFailed += 1
      problems += s"$name timed out after ${ms.round} ms"
      false
    }
  }

  /** One operation that failed. */
  def fail(name: String, why: String): Unit = synchronized {
    nAttempted += 1
    nFailed += 1
    problems += s"$name failed: $why"
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized(problems += s"check failed: $what")

  def attempted: Long = synchronized(nAttempted)
  def failed: Long = synchronized(nFailed)
  def issues: Seq[String] = synchronized(problems.toList)
  def latencies(key: String): Seq[Double] =
    synchronized(samples.get(key).map(_.toList).getOrElse(Nil))
  def keys: Seq[String] = synchronized(samples.keys.toList.sorted)
}

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark and JVM counters attributed to them.
  *
  * Attribution: while a span is the innermost open span on the calling
  * thread, that thread's Spark job group is `pb-<span id>` (`pb-<id>-b`
  * while an operator builds its frame, before the action runs). A
  * [[SparkListener]] maps every job started during the traced pass to its
  * group; jobs started on threads the benchmark does not control (operator
  * thread pools, the HTTP handler pool) carry no such group and are
  * counted as unattributed. Spans stay in memory until [[report]].
  *
  * When disabled, [[span]] and [[opSpan]] cost one boolean check.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var on = false

  final case class Span(
      id: Int, name: String, parent: Int, iter: Int,
      startMs: Long, endMs: Long, durNs: Long,
      cachedBefore: Int, cachedAfter: Int)

  private final class Job(val group: String, val startMs: Long) {
    @volatile var endMs = -1L
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }

  private val ids = new AtomicInteger
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val lastEventMs = new AtomicLong
  private val planningNs = new AtomicLong
  private var gcMsAtStart = 0L
  private var gcMs = 0L
  private var heapPeakBytes = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toList
  private def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (on) {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobs.put(e.jobId, new Job(g.getOrElse(""), e.time))
        e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, e.jobId))
      }
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      lastEventMs.set(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      j.foreach { job =>
        job.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          job.cpuNs.addAndGet(m.executorCpuTime)
          job.shuffleBytes.addAndGet(
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          job.spillBytes.addAndGet(m.diskBytesSpilled)
        }
      }
      lastEventMs.set(System.currentTimeMillis())
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        planningNs.addAndGet(
          qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  })

  def enabled: Boolean = on

  /** Waits until the listener bus has been quiet for 250 ms (at most 20 s)
    * and, if `allEnded`, every recorded job has ended.
    */
  private def settle(allEnded: Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    def settled = (!allEnded || jobs.values.asScala.forall(_.endMs >= 0)) &&
      System.currentTimeMillis() - lastEventMs.get > 250L
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Starts recording, once events of earlier work have been delivered;
    * counters cover only what runs until [[stop]].
    */
  def start(): Unit = {
    settle(allEnded = false)
    heapPools.foreach(_.resetPeakUsage())
    gcMsAtStart = gcTotalMs()
    on = true
  }

  /** Stops recording after the listener bus has delivered the events of
    * every job that started while recording.
    */
  def stop(): Unit = {
    gcMs = gcTotalMs() - gcMsAtStart
    heapPeakBytes = heapPools.map(_.getPeakUsage.getUsed).sum
    settle(allEnded = true)
    on = false
  }

  private def setGroup(group: Option[String]): Unit = group match {
    case Some(g) => spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    case None => spark.sparkContext.clearJobGroup()
  }

  /** Runs `body` inside a span named `layer.function`. */
  def span[T](name: String, iter: Int)(body: => T): T =
    if (!on) body else traced(name, iter)(_ => body)

  /** An operator call: `build` returns the operator's frame (jobs it runs
    * are eager materializations, counted as build jobs), then `action`
    * consumes it; both run inside one span.
    */
  def opSpan[T](name: String, iter: Int)(build: => DataFrame)(action: DataFrame => T): T =
    if (!on) action(build)
    else traced(name, iter)(_ => action(building(build)))

  /** Marks the jobs `body` starts as build jobs of the innermost open span. */
  private def building[T](body: => T): T = open.get match {
    case id :: _ if on =>
      setGroup(Some(s"pb-$id-b"))
      try body finally setGroup(Some(s"pb-$id"))
    case _ => body
  }

  private def traced[T](name: String, iter: Int)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val parents = open.get
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    open.set(id :: parents)
    setGroup(Some(s"pb-$id"))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val dur = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      open.set(parents)
      setGroup(parents.headOption.map(p => s"pb-$p"))
      val rec = Span(id, name, parents.headOption.getOrElse(0), iter, startMs, endMs, dur,
        cachedBefore, spark.sparkContext.getPersistentRDDs.size)
      spans.synchronized(spans += rec)
    }
  }

  /** Records a span timed by the caller (a request whose Spark work runs on
    * the server's own threads, so no job group can follow it).
    */
  def record(name: String, iter: Int, startMs: Long, durNs: Long): Unit = if (on) {
    val rec = Span(ids.incrementAndGet(), name, 0, iter, startMs,
      startMs + durNs / 1000000L, durNs, 0, 0)
    spans.synchronized(spans += rec)
  }

  def durationsMs(name: String): Seq[Double] =
    spans.synchronized(spans.filter(_.name == name).map(_.durNs / 1e6).toList)

  private def spanJobs(id: Int): Seq[(Job, Boolean)] =
    jobs.values.asScala.toSeq.flatMap { j =>
      if (j.group == s"pb-$id") Some(j -> false)
      else if (j.group == s"pb-$id-b") Some(j -> true)
      else None
    }

  /** Wall time inside [start, end] covered by no job interval. */
  private def gapMs(s: Span, js: Seq[Job]): Long = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  /** Per-layer metrics named `<layer>.<function>.<measure>` for each span
    * name in `spanNames`, summed over the traced pass, plus the engine-wide
    * counters. Names not seen read 0.
    */
  def report(spanNames: Seq[String], operatorSpans: Set[String], ops: Long)
      : Seq[(String, Double, String)] = {
    val all = spans.synchronized(spans.toList)
    val out = ArrayBuffer.empty[(String, Double, String)]
    spanNames.foreach { n =>
      val ss = all.filter(_.name == n)
      val withJobs = ss.map(s => s -> spanJobs(s.id))
      val js = withJobs.flatMap(_._2.map(_._1))
      out += ((s"$n.s", ss.map(_.durNs).sum / 1e9, "s"))
      out += ((s"$n.jobs", js.size.toDouble, "count"))
      out += ((s"$n.tasks", js.map(_.tasks.get).sum.toDouble, "count"))
      out += ((s"$n.cpu_s", js.map(_.cpuNs.get).sum / 1e9, "s"))
      out += ((s"$n.shuffle_mb", js.map(_.shuffleBytes.get).sum / 1048576.0, "MB"))
      out += ((s"$n.driver_gap_s",
        withJobs.map { case (s, j) => gapMs(s, j.map(_._1)) }.sum / 1000.0, "s"))
      if (operatorSpans(n)) {
        out += ((s"$n.build_jobs", withJobs.map(_._2.count(_._2)).sum.toDouble, "count"))
        out += ((s"$n.new_cached_rdds",
          ss.map(s => s.cachedAfter - s.cachedBefore).sum.toDouble, "count"))
      }
    }
    val mine = all.map(_.id).toSet
    val unattributed = jobs.values.asScala.count { j =>
      !(j.group.startsWith("pb-") &&
        mine(j.group.stripPrefix("pb-").stripSuffix("-b").toInt))
    }
    out += (("spark.spill_mb", jobs.values.asScala.map(_.spillBytes.get).sum / 1048576.0, "MB"))
    out += (("spark.unattributed_jobs", unattributed.toDouble, "count"))
    out += (("spark.planning_ms_per_request",
      if (ops == 0) 0.0 else planningNs.get / 1e6 / ops, "ms"))
    out += (("jvm.gc_s", gcMs / 1000.0, "s"))
    out += (("jvm.heap_peak_mb", heapPeakBytes / 1048576.0, "MB"))
    out.toList
  }

  /** One JSON object per span: identity, timing, self time (duration minus
    * the part of it covered by child spans) and its attributed counters.
    */
  def spanLines(): Seq[String] = {
    val all = spans.synchronized(spans.toList)
    val children = all.groupBy(_.parent)
    all.sortBy(_.id).map { s =>
      val childMs = children.getOrElse(s.id, Nil).map(c => c.durNs / 1e6).sum
      val js = spanJobs(s.id).map(_._1)
      val durMs = s.durNs / 1e6
      s"""{"id":${s.id},"name":${Util.jsonStr(s.name)},"parent":${s.parent},""" +
        s""""iter":${s.iter},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_ms":$durMs,"self_ms":${durMs - childMs},"jobs":${js.size},""" +
        s""""tasks":${js.map(_.tasks.get).sum},"cpu_ms":${js.map(_.cpuNs.get).sum / 1e6},""" +
        s""""shuffle_bytes":${js.map(_.shuffleBytes.get).sum},""" +
        s""""driver_gap_ms":${gapMs(s, js)}}"""
    }
  }
}
