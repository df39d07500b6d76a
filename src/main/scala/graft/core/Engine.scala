package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Replaces the reference's connection pool (`/root/reference/backend/main.py:64-87`,
  * a dict of ClickHouse HTTP clients keyed `host:port:database:username`) with the
  * JVM-singleton SparkSession. AQE is on so runtime statistics re-plan joins
  * (broadcast demotion, skew splitting) — essential at the 100 TB design point
  * where static estimates are unreliable.
  */
object Engine {

  /** Default shuffle parallelism. On a real cluster this should be set to
    * 2-3x total executor cores (or left to AQE coalescing from a high initial
    * value); locally it must match the core count, not Spark's default 200.
    */
  val DefaultShufflePartitions = 32

  def session(
      appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = DefaultShufflePartitions): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Read TIMESTAMP(NANOS) parquet as long instead of erroring; only
      // affects nanos-typed columns (see Tables.loadEvents for the ns→µs
      // conversion). Set here so the behavior is explicit session policy,
      // not a load-time side effect.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // native graft expressions (graft_dot) resolve in every session
      .withExtensions(new graft.functions.GraftExtensions)
    master.fold(b)(b.master).getOrCreate()
  }

  /** Drop every [[Memo]] and any operator-persisted blocks
    * — the cached state graft operators deliberately leave behind (lazy
    * return frames can't know when their consumer is done; see Dedup's
    * persist notes). Called by [[shutdown]]; also callable alone between
    * logical "databases" so pinned checkpoint/cache blocks never accumulate
    * (EngineSpec pins zero persistent RDDs after release).
    *
    * CONTEXT-WIDE, not session-scoped: `getPersistentRDDs` is global to the
    * SparkContext, so this unpersists every session's blocks — including
    * another session's localCheckpoint-backed memoized frames, which become
    * unrecoverable (truncated lineage). Only call it when this session owns
    * all cached state in the JVM (the single-engine deployments here); a
    * true multi-session host must scope eviction itself.
    */
  def releaseCachedState(spark: SparkSession): Unit = {
    // every memo in the JVM: pipeline checkpoints, staged artifacts and
    // staged scratch copies, whose dirs are deleted now rather than at JVM
    // exit; same context-wide caveat as above
    Memo.releaseAll()
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Exception => () } // context may already be stopped
  }

  /** The reference closes pooled clients on shutdown (`main.py:336-340`). */
  def shutdown(spark: SparkSession): Unit = {
    releaseCachedState(spark)
    spark.stop()
  }
}
