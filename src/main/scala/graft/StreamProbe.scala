package graft

/** Scratch profiling main for the streaming replay block (not part of the
  * driver contract; kept out of Bench/Verify). Runs each replay shape twice
  * in one JVM to separate first-run JIT/staging cost from steady-state.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Engine.session(
      master = Some(s"local[$cpus]"), shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => graft.streaming.Replayed): Unit = {
      val t0 = System.nanoTime()
      val r = f
      val n = r.frame.count()
      println(f"[probe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n  batches=${r.batches}")
    }
    for (round <- 1 to 3) {
      println(s"[probe] --- round $round ---")
      time("st1_hourly")(graft.streaming.EventsStream.hourlyAvailableNow(spark, sfDir))
      time("st2_sessionize")(graft.streaming.EventsStream.sessionizeAvailableNow(spark, sfDir))
      time("st3_watermarked")(graft.streaming.EventsStream.hourlyWatermarkedAvailableNow(spark, sfDir))
      time("st4_user_totals")(graft.streaming.EventsStream.userTotalsAvailableNow(spark, sfDir))
      time("st5_dedup")(graft.streaming.EventsStream.dedupReplay(spark, sfDir))
      time("st6_attr")(graft.streaming.EventsStream.attributionReplay(spark, sfDir))
      time("st7_attr_outer")(graft.streaming.EventsStream.attributionOuterReplay(spark, sfDir))
    }
    spark.stop()
  }
}
