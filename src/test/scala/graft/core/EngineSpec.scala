package graft.core

import graft.{SparkEntry, SparkSpec}

class EngineSpec extends SparkSpec {

  test("releaseCachedState drops memos and all persisted blocks") {
    // build a query that persists (dedup shingle sets) and memoizes (d2 pair
    // set via SparkEntry), then release and assert nothing stays pinned
    SparkEntry.queries("d2_near_dedup")(spark, sf).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "fixture should have persisted blocks before release")
    Engine.releaseCachedState(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"blocks still pinned: ${spark.sparkContext.getPersistentRDDs.keys.mkString(", ")}")
    // the memoized pipeline stage must rebuild (and still be correct)
    val again = SparkEntry.queries("d2_near_dedup")(spark, sf)
    assert(again.columns.toSeq == Seq("a_id", "b_id", "jaccard"))
  }

  test("releaseCachedState evicts staged scratch copies (streams + partitioned layout)") {
    // populate a staged streaming source copy, the partitioned layout copy
    // and a staged table artifact (u39), then release and assert every memo
    // is empty AND every released scratch dir is gone from disk
    graft.streaming.EventsStream.hourlyAvailableNow(spark, sf, "graft_engine_rel").frame.count()
    val partRoot = PartitionedTables.eventsByDateRoot(spark, sf)
    val u39 = SparkEntry.entries("u39_replace_where")
    val u39Rows = u39.run(spark, sf).count()
    val dirs = Memo.all.flatMap(_.values).collect { case p: String => p }
    assert(Seq(partRoot, u39.staged.head.get((spark, sf))).forall(dirs.contains))
    assert(dirs.exists(_.contains("graft_stream_staged_")),
      "fixture should have staged a streaming source copy")
    assert(dirs.forall(d => new java.io.File(d).exists()))
    Engine.releaseCachedState(spark)
    assert(Memo.all.forall(_.size == 0), "every memo must be empty after release")
    assert(dirs.forall(d => !new java.io.File(d).exists()),
      "released scratch dirs must be deleted from disk, not just forgotten")
    // staging must transparently rebuild after a release
    assert(graft.streaming.EventsStream.hourlyAvailableNow(spark, sf, "graft_engine_rel2")
      .frame.count() > 0)
    assert(u39.run(spark, sf).count() == u39Rows)
  }

  test("a released catalog artifact rebuilds under a fresh catalog") {
    // CatalogManager caches plugins by name: a rebuild that reused the old
    // name would reach a plugin whose warehouse root was deleted
    val u37 = SparkEntry.entries("u37_days_layout")
    def rows() = u37.run(spark, sf).collect().map(_.toString).sorted.toSeq
    val before = rows()
    val oldRoot = u37.staged.head.get((spark, sf))
    Engine.releaseCachedState(spark)
    assert(!new java.io.File(oldRoot).exists())
    assert(rows() == before)
    val newRoot = u37.staged.head.get((spark, sf))
    assert(newRoot != oldRoot)
    val cat = SparkEntry.catalogName(newRoot)
    assert(spark.conf.get(s"spark.sql.catalog.$cat.root") == newRoot)
    assert(new java.io.File(newRoot, "ev/clicks").isDirectory,
      "the rebuilt table must live under the new tracked root")
  }
}
