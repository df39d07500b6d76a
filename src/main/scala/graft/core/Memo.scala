package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A value built at most once per key and kept until released — the one
  * mechanism behind every cross-query memo the engine keeps: checkpointed
  * pipeline stages, staged ingest-time artifacts, staged streaming sources
  * and partitioned copies. Values are deterministic functions of their
  * key, so reuse never changes results.
  *
  * Every instance joins one JVM-wide registry when it is created, so
  * [[Memo.releaseAll]] cannot miss one, and every [[get]] counts either a
  * build or a hit, so a caller can observe reuse where it happens (Bench's
  * `memo_warm`) instead of declaring it in a list beside the code.
  */
final class Memo[K, V] private (build: K => V, drop: V => Unit) {
  private val held = new ConcurrentHashMap[K, V]()

  /** The value for `key`, built on first use. A build that throws leaves
    * no entry behind, so the next call retries it.
    */
  def get(key: K): V = {
    val v = held.get(key)
    if (v != null) { Memo.hitCount.incrementAndGet(); v }
    else held.computeIfAbsent(key, k => {
      Memo.buildCount.incrementAndGet()
      build(k)
    })
  }

  /** Number of keys currently held. */
  def size: Int = held.size

  /** The values currently held. */
  def values: Seq[V] = held.values.asScala.toSeq

  /** Forget every key and hand each released value to `drop`. Does not
    * wait on Spark: checkpointed frames are reclaimed by the context
    * cleaner (or an eager non-blocking unpersist) once unreferenced.
    */
  def release(): Unit =
    held.keySet.asScala.toList
      .foreach(k => Option(held.remove(k)).foreach(drop))
}

object Memo {
  private val registry = new ConcurrentLinkedQueue[Memo[_, _]]()
  private val buildCount = new AtomicLong()
  private val hitCount = new AtomicLong()

  def apply[K, V](build: K => V): Memo[K, V] =
    register(new Memo(build, (_: V) => ()))

  /** A memo whose value is a tracked scratch directory: created by `get`
    * ([[TempDirs.createFast]] when `fast`), filled by `fill`, and deleted
    * from disk on release — or at once, if `fill` throws.
    */
  def dir[K](prefix: String, fast: Boolean = false)(
      fill: (K, String) => Unit): Memo[K, String] =
    register(new Memo[K, String](
      key => {
        val path = if (fast) TempDirs.createFast(prefix) else TempDirs.create(prefix)
        try fill(key, path)
        catch { case e: Throwable => TempDirs.drop(path); throw e }
        path
      },
      TempDirs.drop))

  private def register[K, V](m: Memo[K, V]): Memo[K, V] = {
    registry.add(m)
    m
  }

  /** Every memo created so far in this JVM. */
  def all: Seq[Memo[_, _]] = registry.asScala.toSeq

  /** Builds since JVM start, across all memos. */
  def builds: Long = buildCount.get

  /** Gets served from an already-held value since JVM start. */
  def hits: Long = hitCount.get

  /** Release every memo in the JVM (for every session). */
  def releaseAll(): Unit = registry.forEach(_.release())
}
