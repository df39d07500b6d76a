package graft.core

import java.util.ConcurrentModificationException

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CROSS-TABLE TRANSACTIONS (round 20 — SURVEY §9 forward #1): the
  * catalog version pointer makes a corpus table + its index table commit
  * atomically; crash ordering, OCC composition/conflict, rollback/sync
  * and catalog-level time travel are all pinned here.
  */
class TransactionsSpec extends SparkSpec {

  import spark.implicits._

  private def seed(cat: String): Unit = {
    Transactions.transact(spark, cat) { txn =>
      txn.stage("corpus") { root =>
        ManifestTable.commit(spark, root,
          Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("id", "lang", "n"),
          "lang", batchId = 0L)
      }
      txn.stage("index") { root =>
        ManifestTable.commit(spark, root,
          Seq(("en", 1L), ("de", 1L)).toDF("lang", "docs"),
          "lang", batchId = 0L)
      }
    }
  }

  private def pairCounts(cat: String, cv: Option[Long] = None)
      : (Long, Map[String, Long]) = {
    val c = Transactions.read(spark, cat, "corpus", cv).count()
    val i = Transactions.read(spark, cat, "index", cv)
      .select("lang", "docs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (c, i)
  }

  test("a two-table commit is atomic: both visible after the pointer, the OLD pair visible on a crash before it") {
    val cat = tmpDir("graft_txn_atomic")
    seed(cat)
    assert(pairCounts(cat) == (2L, Map("en" -> 1L, "de" -> 1L)))
    // CRASH INJECTION: both member manifests publish, the pointer never
    // does — transactional readers must keep the OLD consistent pair
    intercept[RuntimeException] {
      Transactions.transact(spark, cat,
        beforePointerPublish = () => throw new RuntimeException("crash")) {
        txn =>
          txn.stage("corpus") { root =>
            ManifestTable.commit(spark, root,
              Seq((3L, "fr", 30L)).toDF("id", "lang", "n"),
              "lang", batchId = 1L)
          }
          txn.stage("index") { root =>
            ManifestTable.merge(spark, root,
              Seq(("en", 2L)).toDF("lang", "docs"), "lang", batchId = 1L)
          }
      }
    }
    // the member chains DID advance (staged durable)...
    assert(ManifestTable.currentVersion(
      spark, Transactions.tableRoot(cat, "corpus")) == 1L)
    // ...but the transactional pair is the old one
    assert(pairCounts(cat) == (2L, Map("en" -> 1L, "de" -> 1L)))
    // the dangling table refuses further transactional stages loudly
    val e = intercept[ConcurrentModificationException] {
      Transactions.transact(spark, cat) { txn =>
        txn.stage("corpus")(root => ManifestTable.commit(spark, root,
          Seq((4L, "fr", 40L)).toDF("id", "lang", "n"),
          "lang", batchId = 2L))
      }
    }
    assert(e.getMessage.contains("rollback") &&
      e.getMessage.contains("sync"), e.getMessage)
  }

  test("rollback restores the pinned state over dangling versions; the re-run of the same batch re-applies (fence restored)") {
    val cat = tmpDir("graft_txn_rb")
    seed(cat)
    intercept[RuntimeException] {
      Transactions.transact(spark, cat,
        beforePointerPublish = () => throw new RuntimeException("crash")) {
        txn =>
          txn.stage("corpus")(root => ManifestTable.commit(spark, root,
            Seq((3L, "fr", 30L)).toDF("id", "lang", "n"),
            "lang", batchId = 1L))
      }
    }
    val restored = Transactions.rollback(spark, cat, "corpus")
    assert(restored == 2L) // v0 seed, v1 dangling, v2 restore-of-v0
    // transactional AND latest reads agree on the restored state
    assert(Transactions.read(spark, cat, "corpus").count() == 2L)
    assert(ManifestTable.read(
      spark, Transactions.tableRoot(cat, "corpus")).get.count() == 2L)
    // the fence restored with the state: re-running batch 1 re-applies
    Transactions.transact(spark, cat) { txn =>
      txn.stage("corpus")(root => ManifestTable.commit(spark, root,
        Seq((3L, "fr", 30L)).toDF("id", "lang", "n"),
        "lang", batchId = 1L))
    }
    assert(Transactions.read(spark, cat, "corpus").count() == 3L)
    // the dangling version stays time-travelable until vacuum
    assert(ManifestTable.readVersion(
      spark, Transactions.tableRoot(cat, "corpus"), 1L).count() == 3L)
  }

  test("a crashed FIRST-ENROLLMENT is not silently folded in: the next stage refuses; enroll = true adopts deliberately (review r20)") {
    val cat = tmpDir("graft_txn_enroll")
    seed(cat)
    // crash while enrolling a brand-new table: its v0 is durable but
    // never pointed
    intercept[RuntimeException] {
      Transactions.transact(spark, cat,
        beforePointerPublish = () => throw new RuntimeException("crash")) {
        txn =>
          txn.stage("newidx")(root => ManifestTable.commit(spark, root,
            Seq(("en", 5L)).toDF("lang", "docs"), "lang", batchId = 0L))
      }
    }
    // a plain re-stage must NOT adopt the debris silently
    val e = intercept[ConcurrentModificationException] {
      Transactions.transact(spark, cat) { txn =>
        txn.stage("newidx")(root => ManifestTable.merge(spark, root,
          Seq(("en", 9L)).toDF("lang", "docs"), "lang", batchId = 1L))
      }
    }
    assert(e.getMessage.contains("enroll"), e.getMessage)
    // deliberate adoption composes
    Transactions.transact(spark, cat) { txn =>
      txn.stage("newidx", enroll = true)(root =>
        ManifestTable.merge(spark, root,
          Seq(("en", 9L)).toDF("lang", "docs"), "lang", batchId = 1L))
    }
    assert(Transactions.read(spark, cat, "newidx")
      .select("lang", "docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 9L))
  }

  test("sync adopts out-of-band heads; stage refuses them until then") {
    val cat = tmpDir("graft_txn_sync")
    seed(cat)
    // an out-of-band (non-transactional) write straight at the member
    ManifestTable.commit(spark,
      Transactions.tableRoot(cat, "corpus"),
      Seq((9L, "fr", 90L)).toDF("id", "lang", "n"), "lang", batchId = 5L)
    // invisible transactionally, visible to plain latest reads
    assert(Transactions.read(spark, cat, "corpus").count() == 2L)
    assert(ManifestTable.read(
      spark, Transactions.tableRoot(cat, "corpus")).get.count() == 3L)
    intercept[ConcurrentModificationException] {
      Transactions.transact(spark, cat) { txn =>
        txn.stage("corpus")(root => ManifestTable.commit(spark, root,
          Seq((10L, "it", 1L)).toDF("id", "lang", "n"),
          "lang", batchId = 6L))
      }
    }
    Transactions.sync(spark, cat, Seq("corpus"))
    assert(Transactions.read(spark, cat, "corpus").count() == 3L)
    // and stages compose again
    Transactions.transact(spark, cat) { txn =>
      txn.stage("corpus")(root => ManifestTable.commit(spark, root,
        Seq((10L, "it", 1L)).toDF("id", "lang", "n"),
        "lang", batchId = 6L))
    }
    assert(Transactions.read(spark, cat, "corpus").count() == 4L)
  }

  test("OCC: disjoint-member transactions compose via pointer retry; a moved member conflicts loudly") {
    val cat = tmpDir("graft_txn_occ")
    seed(cat)
    // COMPOSE: while txnA holds the pointer base, txnB (touching a
    // DIFFERENT member) publishes first — txnA retries at the next slot
    // and both land
    Transactions.transact(spark, cat,
      beforePointerPublish = () =>
        Transactions.transact(spark, cat) { txnB =>
          txnB.stage("index")(root => ManifestTable.merge(spark, root,
            Seq(("de", 9L)).toDF("lang", "docs"), "lang", batchId = 1L))
        }) { txnA =>
      txnA.stage("corpus")(root => ManifestTable.commit(spark, root,
        Seq((3L, "fr", 30L)).toDF("id", "lang", "n"),
        "lang", batchId = 1L))
    }
    assert(pairCounts(cat) == (3L, Map("en" -> 1L, "de" -> 9L)))
    // CONFLICT: txnC and txnD both move `corpus`; the loser must abort
    // (its staged version derives from a superseded snapshot). txnD
    // commits inside txnC's pre-publish window but AFTER txnC staged —
    // inject txnD's FULL transact at txnC's pointer-publish seam... txnD
    // would itself refuse at stage (head moved by txnC's stage). The
    // honest interleaving: txnD stages FIRST, txnC's stage then refuses.
    // The pointer-level conflict needs both to have staged from the same
    // pointer base — drive it via sync racing a transact:
    val e = intercept[ConcurrentModificationException] {
      Transactions.transact(spark, cat,
        beforePointerPublish = () =>
          // an out-of-band write + sync moves `corpus` between txnE's
          // stage and its pointer publish
          {
            ManifestTable.commit(spark,
              Transactions.tableRoot(cat, "index"),
              Seq(("it", 1L)).toDF("lang", "docs"), "lang", batchId = 7L)
            Transactions.sync(spark, cat, Seq("index"))
          }) { txnE =>
        txnE.stage("index")(root => ManifestTable.merge(spark, root,
          Seq(("en", 5L)).toDF("lang", "docs"), "lang", batchId = 8L))
      }
    }
    assert(e.getMessage.contains("moved member"), e.getMessage)
  }

  test("catalog-level time travel: any pointer version reproduces its consistent pair; the DSv2 options serve it in SQL") {
    val cat = tmpDir("graft_txn_tt")
    seed(cat) // pointer v0
    Transactions.transact(spark, cat) { txn => // pointer v1
      txn.stage("corpus")(root => ManifestTable.commit(spark, root,
        Seq((3L, "fr", 30L)).toDF("id", "lang", "n"),
        "lang", batchId = 1L))
      txn.stage("index")(root => ManifestTable.merge(spark, root,
        Seq(("en", 2L)).toDF("lang", "docs"), "lang", batchId = 1L))
    }
    assert(pairCounts(cat, Some(0L)) == (2L, Map("en" -> 1L, "de" -> 1L)))
    assert(pairCounts(cat, Some(1L)) == (3L, Map("en" -> 2L, "de" -> 1L)))
    assert(Transactions.history(spark, cat).map(_.version) == Seq(0L, 1L))
    // pointer timestamps are monotonic
    val hist = Transactions.history(spark, cat)
    assert(hist.sliding(2).forall(w => w(0).tsMs < w(1).tsMs))
    // the DSv2 surface: catalogRoot resolves the pin, catalogVersionAsOf
    // time-travels the PAIR
    val viaFmt = spark.read.format("graft-manifest")
      .option("catalogRoot", cat)
      .option("catalogVersionAsOf", "0")
      .load(Transactions.tableRoot(cat, "corpus"))
    assert(viaFmt.count() == 2L)
    val cur = spark.read.format("graft-manifest")
      .option("catalogRoot", cat)
      .load(Transactions.tableRoot(cat, "index"))
      .select("lang", "docs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("en" -> 2L, "de" -> 1L))
    // refusal matrix: time travel to a pointer that never pinned the
    // table; versionAsOf + catalogRoot together; a table outside the root
    intercept[IllegalArgumentException] {
      Transactions.read(spark, cat, "absent", Some(0L))
    }
    intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("catalogRoot", cat).option("versionAsOf", "0")
        .load(Transactions.tableRoot(cat, "corpus")).count()
    }
    intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("catalogRoot", cat)
        .load(tmpDir("graft_txn_outside")).count()
    }
  }

  test("TWO TRULY CONCURRENT transactions on disjoint members: the pointer arbiter serializes both, no update lost (many rounds)") {
    val cat = tmpDir("graft_txn_race")
    seed(cat)
    // each thread owns ONE member and bumps it R times through transact;
    // disjoint members must always compose via the CAS retry — at the
    // end both tables' pins equal their own heads and every round's
    // data is present. (Same-member races are covered by the stage-time
    // refusal + the publishPins conflict check, both pinned above.)
    val rounds = 6
    def loop(rel: String, mkRow: Int => (String, Long)): Unit =
      (1 to rounds).foreach { i =>
        var done = false
        while (!done) {
          try {
            Transactions.transact(spark, cat) { txn =>
              txn.stage(rel)(root => ManifestTable.merge(spark, root,
                Seq(mkRow(i)).toDF("lang", "docs"), "lang",
                batchId = 100L + i))
            }
            done = true
          } catch {
            case _: ConcurrentModificationException =>
              // a pointer conflict on one's OWN member can only come
              // from the other thread's pointer publish racing a stage;
              // re-staging from the fresh pointer is the documented
              // retry
              ()
          }
        }
      }
    // pre-enroll the second member so both threads run keyed merges
    Transactions.transact(spark, cat) { txn =>
      txn.stage("index2")(root => ManifestTable.commit(spark, root,
        Seq(("de", 0L)).toDF("lang", "docs"), "lang", batchId = 0L))
    }
    val t1 = new Thread(() => loop("index", i => ("en", i.toLong)))
    val t2 = new Thread(() => loop("index2", i => ("de", 10L * i)))
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    assert(!t1.isAlive && !t2.isAlive, "race loops must terminate")
    val p = Transactions.currentPointer(spark, cat).get
    // every pin equals its member's chain head (no lost update, no
    // regression), and both final values landed
    for (rel <- Seq("index", "index2"))
      assert(p.pins(rel) == ManifestTable.currentVersion(
        spark, Transactions.tableRoot(cat, rel)),
        s"$rel pin ${p.pins(rel)} != head")
    assert(Transactions.read(spark, cat, "index")
      .select("lang", "docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.apply("en") ==
      rounds.toLong)
    assert(Transactions.read(spark, cat, "index2")
      .select("lang", "docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.apply("de") ==
      10L * rounds)
    // pointer versions are contiguous and timestamps monotonic
    val hist = Transactions.history(spark, cat)
    assert(hist.map(_.version) == (0L until hist.length).toSeq)
    assert(hist.sliding(2).forall(w => w(0).tsMs < w(1).tsMs))
  }

  test("member names with odd-but-legal characters roundtrip through the pointer; reserved ones refuse at stage AND sync") {
    val cat = tmpDir("graft_txn_names")
    // (non-ASCII names depend on the JVM's file.encoding — this
    // container's POSIX locale mangles them at the filesystem level,
    // so the roundtrip pins printable-ASCII oddities only)
    val odd = Seq("a b", "x=y", "odd.name-v2", "pct%20enc")
    Transactions.transact(spark, cat) { txn =>
      odd.foreach(rel => txn.stage(rel) { root =>
        ManifestTable.commit(spark, root,
          Seq((1L, "p0")).toDF("k", "part"), "part", batchId = 0L)
      })
    }
    val p = Transactions.currentPointer(spark, cat).get
    assert(p.pins.keySet == odd.toSet, p.pins.toString)
    odd.foreach(rel =>
      assert(Transactions.read(spark, cat, rel).count() == 1L))
    // reserved characters refuse loudly at both name-accepting doors
    for (bad <- Seq("a\"b", "a{b", "a}b")) {
      intercept[IllegalArgumentException] {
        Transactions.transact(spark, cat)(txn =>
          txn.stage(bad)(_ => ()))
      }
      intercept[IllegalArgumentException] {
        Transactions.sync(spark, cat, Seq(bad))
      }
    }
  }

  test("TRANSACTIONAL catalog mode: plain SQL SELECT resolves the pointer pin; writes to pinned tables refuse; VERSION AS OF still addresses the chain") {
    val wh = tmpDir("graft_txn_cat_wh")
    // a NORMAL catalog and a TRANSACTIONAL one over the SAME root
    spark.conf.set("spark.sql.catalog.gtxn_rw",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtxn_rw.root", wh)
    spark.conf.set("spark.sql.catalog.gtxn_ro",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtxn_ro.root", wh)
    spark.conf.set("spark.sql.catalog.gtxn_ro.transactional", "true")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtxn_rw.m")
    spark.sql("CREATE TABLE gtxn_rw.m.docs (k BIGINT, lang STRING) " +
      "USING `graft-manifest` PARTITIONED BY (lang)")
    spark.sql("CREATE TABLE gtxn_rw.m.idx (lang STRING, n BIGINT) " +
      "USING `graft-manifest` PARTITIONED BY (lang)")
    spark.sql("INSERT INTO gtxn_rw.m.docs VALUES (1, 'en'), (2, 'de')")
    spark.sql("INSERT INTO gtxn_rw.m.idx VALUES ('en', 1), ('de', 1)")
    // enroll BOTH (explicit — the tables have history) in one pointer
    Transactions.transact(spark, wh) { txn =>
      txn.stage("m/docs", enroll = true)(_ => ())
      txn.stage("m/idx", enroll = true)(_ => ())
    }
    // the transactional catalog serves the pinned pair
    assert(spark.sql("SELECT count(*) FROM gtxn_ro.m.docs")
      .head.getLong(0) == 2L)
    // an out-of-band write through the NORMAL catalog: rw sees it,
    // the transactional road keeps the consistent pinned pair
    spark.sql("INSERT INTO gtxn_rw.m.docs VALUES (3, 'fr')")
    assert(spark.sql("SELECT count(*) FROM gtxn_rw.m.docs")
      .head.getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) FROM gtxn_ro.m.docs")
      .head.getLong(0) == 2L)
    // a transact over both members publishes the new pair atomically...
    Transactions.sync(spark, wh, Seq("m/docs"))
    Transactions.transact(spark, wh) { txn =>
      txn.stage("m/idx") { root =>
        ManifestTable.merge(spark, root,
          Seq(("fr", 1L)).toDF("lang", "n"), "lang", batchId = 9L)
      }
    }
    assert(spark.sql("SELECT count(*) FROM gtxn_ro.m.docs")
      .head.getLong(0) == 3L)
    assert(spark.sql("SELECT n FROM gtxn_ro.m.idx WHERE lang = 'fr'")
      .head.getLong(0) == 1L)
    // explicit chain time travel still wins over the pin
    assert(spark.sql("SELECT count(*) FROM gtxn_ro.m.docs VERSION AS OF 0")
      .head.getLong(0) == 2L)
    // a WRITE through the transactional catalog to a pinned table
    // refuses (snapshot-addressed handle) — write via transact or rw
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gtxn_ro.m.docs VALUES (9, 'it')")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("time-travel") ||
      m.contains("snapshot") || m.contains("refus")), msgs(e).toString)
  }

  test("restoreVersion is verbatim: lines, zone maps and stats registration carry; a pending deferred mask refuses") {
    val root = tmpDir("graft_txn_restore") + "/t"
    ManifestTable.commit(spark, root,
      Seq((1L, "p0"), (100L, "p1")).toDF("k", "part"), "part",
      batchId = 0L, statsCol = Some("k"))
    ManifestTable.commit(spark, root,
      Seq((200L, "p2")).toDF("k", "part"), "part",
      batchId = 1L, statsCol = Some("k"))
    val restored = ManifestTable.restoreVersion(spark, root, 0L)
    assert(restored == 2L)
    val df = ManifestTable.read(spark, root).get
    assert(df.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 100L))
    // zone maps carried verbatim: a pruned read still skips files
    val (pruned, total) = ManifestTable.prunedFiles(spark, root, "k", 90L, 110L)
    assert(pruned.forall(_.startsWith("part=p1/")) && pruned.size < total,
      s"$pruned / $total")
    // history records the restore
    assert(ManifestTable.history(spark, root).head.operation == "restore")
    // restoring to the head is a no-op
    assert(ManifestTable.restoreVersion(spark, root, 2L) == 2L)
    // a restore of a restore (v2), then of a keyed merge version (v3):
    // the new raw header names its own target, carries nf/nr once each,
    // matching the live lines, and drops the source's opKey
    ManifestTable.merge(spark, root, Seq((1L, "p0")).toDF("k", "part"), "k",
      batchId = 5L)
    def raw(v: Long): (String, Int) = {
      val all = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$root/_manifest/v$v.json"))
      (all.get(0), all.size - 1)
    }
    assert(raw(3L)._1.contains("\"opKey\":\"k\""), raw(3L)._1)
    for ((target, restoredAt) <- Seq(2L -> 4L, 3L -> 5L)) {
      assert(ManifestTable.restoreVersion(spark, root, target) == restoredAt)
      val (h, nLines) = raw(restoredAt)
      def nums(key: String) = s""""$key":(-?\\d+)""".r.findAllMatchIn(h)
        .map(_.group(1).toLong).toList
      assert(nums("nf") == List(nLines.toLong), h)
      assert(nums("nr") == List(ManifestTable.read(spark, root).get.count()), h)
      assert(nums("restoredFrom") == List(target), h)
      assert(!h.contains("opKey"), h)
    }
  }
}
