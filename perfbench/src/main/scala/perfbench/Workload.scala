package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** What a workload gets: the session under test, the tracer, its seed, the
  * nominal run length and a private scratch directory.
  */
final case class Ctx(
    spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int, dir: Path)

/** One benchmark workload.
  *
  * The seed decides the CONTENT of the inputs (keys, values, text, vectors,
  * request bodies), never the MIX of operations: each workload runs a fixed
  * cyclic pattern of operation kinds, so two seeds time the same kinds of
  * work and a metric's spread across seeds reflects the system, not the mix.
  * A pass performs a fixed number of operations, sized from `seconds` by the
  * workload's nominal rate, so same-seed runs do identical work and their
  * deterministic counters repeat exactly.
  */
trait Workload {
  /** Writes the inputs under `ctx.dir` from the seed and returns a SHA-256
    * hex digest of their content; called several times, it must return the
    * same digest each time.
    */
  def generate(): String

  /** Resets the state a measured pass starts from (untimed). */
  def prepare(): Unit

  /** A short pass that lets the JIT and Spark's caches warm up (set-up). */
  def warmUp(rec: Recorder): Unit

  /** The measured pass. Operations whose latency counts are timed by `rec`;
    * calls into a layer go through `ctx.tracer`.
    */
  def run(rec: Recorder): Unit

  /** Correctness checks after a pass that need more than one operation's
    * answer (untimed).
    */
  def verify(rec: Recorder): Unit

  /** The workload's own end-to-end figures from an untraced pass, named
    * `<workload>.<metric>`.
    */
  def detail(rec: Recorder): Seq[(String, Double, String)]

  /** Layer counts the workload reads from return values or from disk during
    * the traced pass.
    */
  def layerCounts(): Seq[(String, Double, String)] = Nil

  /** Stops anything the workload started. */
  def close(): Unit = ()
}

/** Digest of generated inputs. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def add(x: Long): Unit = md.update(java.nio.ByteBuffer.allocate(8).putLong(x).array())
  def add(x: Double): Unit = add(java.lang.Double.doubleToLongBits(x))
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}
