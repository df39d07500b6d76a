package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: order statistics, JSON text,
  * directory sizes and process memory.
  */
object Util {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def ms(nanos: Long): Double = nanos / 1e6

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A finite double as JSON (full precision); NaN/inf are not valid JSON. */
  def jsonNum(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not finite")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }

  /** Total bytes of the regular files under `dir` (0 if absent). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  /** Memory the process still holds once garbage is gone, in MB: heap and
    * non-heap (metaspace, code cache) in use right after a full collection.
    * Unlike peak RSS it does not follow the collector's heap sizing, which
    * moves a run's peak RSS by a fifth between runs of the same work.
    */
  def retainedMb(): Double = {
    // the first collection lets Spark's ContextCleaner see what the driver
    // dropped; the second frees what the cleaner released meanwhile
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set size of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
