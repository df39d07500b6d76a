package graft

import graft.core.{Engine, Memo}

class SparkEntrySpec extends SparkSpec {

  test("every registered key has oracle SQL and vice versa") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("memo reuse is recorded where it happens: d2 reuses the pairs d13 built") {
    // Bench runs keys in name order, so d13 pays the MinHash pair build and
    // d2 is served from the memo — the observed memo_warm must say so
    Engine.releaseCachedState(spark)
    def counted(name: String): (Long, Long) = {
      val (builds, hits) = (Memo.builds, Memo.hits)
      SparkEntry.queries(name)(spark, sf).count()
      (Memo.builds - builds, Memo.hits - hits)
    }
    val (d13Builds, _) = counted("d13_cc_twophase")
    assert(d13Builds > 0, "d13 runs first and must build the pair set")
    val (d2Builds, d2Hits) = counted("d2_near_dedup")
    assert(d2Builds == 0 && d2Hits > 0,
      s"d2 must be served from d13's pair set (builds=$d2Builds hits=$d2Hits)")
  }
}
